"""Explorer query: the reference's `query` command end-to-end
(SURVEY.md §3.1; reference `src/persistence/pos_db/Query.h/.cpp` †).

Request (dict, same JSON shape as the reference's wire protocol):
    {"token": "...",
     "positions": [{"fen": ..., "move": <san, optional>}, ...],
     "levels":   ["human","engine","server"]  (optional subset),
     "results":  ["W","B","D"]                (optional subset),
     "fetchChildren": true}

Execution is one pruned scan plus the headers lookup. The probe set
(roots + all legal children, built driver-side with the movegen)
becomes a pos_key IN-list pushed into the sorted entries scan — the
distributed analogue of the reference's sparse-index binary search per
run — and the matching rows are collected and folded into the
(select × level × result) grid on the driver, as the reference tallies
its grid in memory. first/last game metadata resolves via a second,
column-pruned lookup of the games dimension. Response is a nested dict
mirroring the reference's JSON.

Scale: the collected rows are bounded by probes × distinct
(reverse_move, level, result) per key — independent of database size —
so the driver fold stays small while the scan side stays parallel, and
pos_key-sorted parquet means row-group min/max stats prune the scan
exactly like the reference's sparse index. Nothing broadcasts or
shuffles: a request is one Spark job, two with the games lookup. Measured end to end with `perfbench/run.py --workload
posdb` on 4 cores against a 190k-position database, the median request
answers in about 0.18 s, mostly Spark's fixed per-job cost.
"""

from __future__ import annotations

import operator
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .board import (
    NO_REVERSE_MOVE,
    Position,
    captured_piece,
    pack_move,
    unpack_move,
)
from .importer import AGG_KEY

# probe tuple: (origin, probe_kind, move_san, move_uci, pos_key, expected_rm)
# with probe_kind root | child and expected_rm None for a bare position
PROBE_KEY = 4

# the entries columns the grid fold reads, in the order it unpacks them
GRID_COLUMNS = [*AGG_KEY, "cnt", "elo_diff_sum", "first_game_id", "last_game_id"]

HEADER_COLUMNS = ["game_id", "white", "black", "date_raw", "event", "result"]


def build_probes(request: dict) -> list[tuple]:
    """Driver-side plan: root + child probes per requested position
    (reference steps 2–3: parse/validate + movegen expansion)."""
    probes = []
    fetch_children = request.get("fetchChildren", True)
    for i, spec in enumerate(request.get("positions", [])):
        base = Position.from_fen(spec["fen"])
        san: Optional[str] = spec.get("move")
        if san:
            m = base.parse_san(san)
            expected = pack_move(m, captured_piece(base, m))
            root = base.make_move(m)
        else:
            root = base
            expected = None
        probes.append((i, "root", san, None, root.key(), expected))
        if fetch_children:
            for cm in root.legal_moves():
                packed = pack_move(cm, captured_piece(root, cm))
                child = root.make_move(cm)
                probes.append(
                    (i, "child", root.san(cm), cm.uci(), child.key(), packed)
                )
    return probes


def probe_entries(
    spark: SparkSession,
    entries: DataFrame,
    request: dict,
    probes: Optional[list[tuple]] = None,
) -> DataFrame:
    """The distributed part: the entries rows of every probed key,
    projected to GRID_COLUMNS, with the request's optional
    `levels`/`results` filters applied. `probes` defaults to
    build_probes(request).

    The probe-key IN-list reaches the parquet reader (PushedFilters), so
    row-group min/max stats on the key-sorted layout skip everything
    outside the probed key windows — the sparse-index seek of the
    reference (`executeQuery` binary search), and the difference between
    O(probes) row-group reads and a full fact-table scan at 100 TB."""
    if probes is None:
        probes = build_probes(request)
    cond = _in_ints("pos_key", sorted({p[PROBE_KEY] for p in probes}))
    levels = request.get("levels")
    results = request.get("results")
    if levels:
        cond &= F.col("level").isin(*levels)
    if results:
        cond &= F.col("result").isin(*results)
    return entries.filter(cond).select(*GRID_COLUMNS)


def _in_ints(column: str, values) -> Column:
    """`column IN (values)` over Python ints as ONE parsed expression of
    BIGINT literals. Column.isin makes a JVM round trip per value
    (measured on 4 cores: 25 ms for a one-position request's 44 probe
    keys, 140 ms for 300); the SQL parser takes the whole list in one
    call (5 and 11 ms), and the result is the same In() filter pushed
    into the scan."""
    if not values:
        return F.lit(False)
    return F.expr(f"{column} IN ({', '.join(f'{int(v)}L' for v in values)})")


def _nullable(op, a, b):
    """SQL aggregate step: NULL inputs are ignored, NULL until one is not."""
    if a is None:
        return b
    return a if b is None else op(a, b)


def fold_grid(rows, probes: list[tuple]) -> dict[tuple, list]:
    """Fold probe_entries rows into the grid on the driver.

    Cells are keyed (origin, probe_kind, move_san, move_uci, select,
    level, result) and hold [cnt, elo_diff_sum, first_game_id,
    last_game_id] as SQL sum/sum/min/max would. A pos_key shared by
    several probes (the same FEN twice, or one position's child being
    another's root) counts once per probe, as an inner join would."""
    by_key: dict[int, list[tuple]] = {}
    for p in probes:
        by_key.setdefault(p[PROBE_KEY], []).append(p)
    grid: dict[tuple, list] = {}
    for pos_key, rm, level, result, cnt, elo, first, last in rows:
        for origin, kind, san, uci, _, expected in by_key[pos_key]:
            if expected is None:
                select = "all"
            elif rm == expected:
                select = "continuation"
            else:
                select = "transposition"
            key = (origin, kind, san, uci, select, level, result)
            cell = grid.get(key)
            if cell is None:
                grid[key] = [cnt, elo, first, last]
            else:
                cell[0] = _nullable(operator.add, cell[0], cnt)
                cell[1] = _nullable(operator.add, cell[1], elo)
                cell[2] = _nullable(min, cell[2], first)
                cell[3] = _nullable(max, cell[3], last)
    return grid


def grid_response(request: dict, grid: dict[tuple, list], headers: dict) -> dict:
    """Folded grid + game headers → nested response dict (reference
    step 6)."""
    response: dict = {"token": request.get("token"), "positions": []}
    by_origin: dict[int, dict] = {}
    for i, spec in enumerate(request.get("positions", [])):
        node = {"fen": spec["fen"], "move": spec.get("move"), "stats": {}, "children": {}}
        by_origin[i] = node
        response["positions"].append(node)

    for (origin, kind, san, uci, select, level, result), cell in grid.items():
        cnt, elo, first, last = cell
        node = by_origin[origin]
        if kind == "root":
            bucket = node["stats"].setdefault(select, {})
        else:
            child = node["children"].setdefault(san, {"uci": uci, "stats": {}})
            bucket = child["stats"].setdefault(select, {})
        out = bucket.setdefault(level, {}).setdefault(result, {})
        out["count"] = cnt
        if elo is not None:
            out["eloDiffSum"] = elo
        if first is not None:
            out["firstGame"] = {"id": first, **headers.get(first, {})}
        if last is not None:
            out["lastGame"] = {"id": last, **headers.get(last, {})}
    return response


def explorer_query(
    spark: SparkSession,
    entries: DataFrame,
    games: Optional[DataFrame],
    request: dict,
) -> dict:
    """Full query command → nested response dict: one pruned entries
    scan collected and folded on the driver (1 Spark job), plus one
    column-pruned games lookup for the first/last game headers when
    `games` is given (at most 2 jobs per request)."""
    probes = build_probes(request)
    rows = probe_entries(spark, entries, request, probes).collect()
    grid = fold_grid(rows, probes)

    game_ids = {g for cell in grid.values() for g in cell[2:] if g is not None}
    headers: dict[int, dict] = {}
    if games is not None and game_ids:
        hdr_rows = (
            games.filter(_in_ints("game_id", sorted(game_ids)))
            .select(*HEADER_COLUMNS)
            .collect()
        )
        headers = {
            r["game_id"]: {
                "white": r["white"],
                "black": r["black"],
                "date": r["date_raw"],
                "event": r["event"],
                "result": r["result"],
            }
            for r in hdr_rows
        }
    return grid_response(request, grid, headers)


def retractions(
    spark: SparkSession,
    entries: DataFrame,
    fen: str,
) -> DataFrame:
    """J5 — which (reverse) moves lead INTO this position: group the
    position's entries by reverse_move (reference retractions support)."""
    pos = Position.from_fen(fen)
    key = pos.key()
    pos_fen = pos.fen()
    agg = (
        entries.filter(F.col("pos_key") == key)
        .filter(F.col("reverse_move") != NO_REVERSE_MOVE)
        .groupBy("reverse_move")
        .agg(F.sum("cnt").alias("cnt"), F.min("first_game_id").alias("first_game_id"))
    )

    def expand(it):
        """Reconstruct uci + parent placement by unmaking each packed
        reverse move (the captured-piece bits make the board exact;
        castling/ep rights are not recoverable from a single move — the
        reference's full ERAN records them, see eran.py). ONE Arrow
        batch per partition, matching retractions_exact's discipline —
        the earlier row-at-a-time @F.udf pair was the module's only
        BatchEvalPython path. eran.unmove copies the board, so the base
        position parses once per partition, not once per row."""
        from . import eran as eran_mod
        from .board import unpack_captured

        base = Position.from_fen(pos_fen)
        for pdf in it:
            ucis, parents = [], []
            for packed in pdf["reverse_move"].tolist():
                m = unpack_move(int(packed))
                ucis.append(m.uci())
                mover = base.board[m.to_sq] if not m.promo else (
                    "P" if base.side == "b" else "p"
                )
                desc = eran_mod.Eran(
                    piece=mover or "?",
                    from_sq=m.from_sq,
                    to_sq=m.to_sq,
                    captured=unpack_captured(int(packed)),
                    promo=m.promo,
                    flag=m.flag,
                    prior_castling=base.castling,
                    prior_ep=None,
                    prior_halfmove=0,
                )
                parent = eran_mod.unmove(base, desc)
                parents.append(parent.fen().split(" ")[0] + " " + parent.side)
            pdf = pdf.assign(move_uci=ucis, parent_placement=parents)
            yield pdf[
                [
                    "move_uci",
                    "parent_placement",
                    "reverse_move",
                    "cnt",
                    "first_game_id",
                ]
            ]

    return agg.mapInPandas(
        expand,
        schema=(
            "move_uci string, parent_placement string, reverse_move int, "
            "cnt long, first_game_id long"
        ),
    )


def retractions_exact(
    spark: SparkSession,
    retr: DataFrame,
    fen: str,
) -> DataFrame:
    """J5 exact form: which moves lead INTO this position, with the
    EXACT parent position each came from — the stored ERAN carries the
    prior castling/ep/halfmove a packed reverse move cannot recover
    (reference `Query.h` retractions + `Eran.h` †). Input is the
    `retractions/` sidecar written by import_pgn(retractions=True).

    The pos_key filter reaches the parquet scan (the sidecar is
    pos_key-sorted, so row-group stats prune like the entries probe);
    post-filter cardinality is ≤ distinct inbound (move, prior-rights)
    variants — tiny — so the python unmove step is negligible."""
    from collections.abc import Iterator

    import pandas as pd

    pos = Position.from_fen(fen)
    key = pos.key()
    pos_fen = pos.fen()

    agg = (
        retr.filter(F.col("pos_key") == key)
        .groupBy("eran")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.min("first_game_id").alias("first_game_id"),
        )
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import eran as eran_mod
        from .board import sq_name

        cols = ["move_uci", "parent_fen", "eran", "cnt", "first_game_id"]
        for pdf in it:
            out = []
            for text, cnt, fgid in zip(
                pdf["eran"], pdf["cnt"], pdf["first_game_id"]
            ):
                e = eran_mod.Eran.parse(text)
                parent = eran_mod.unmove(Position.from_fen(pos_fen), e)
                out.append(
                    {
                        "move_uci": sq_name(e.from_sq)
                        + sq_name(e.to_sq)
                        + (e.promo or ""),
                        "parent_fen": parent.fen(),
                        "eran": text,
                        "cnt": int(cnt),
                        "first_game_id": int(fgid),
                    }
                )
            yield pd.DataFrame(out, columns=cols)

    return agg.mapInPandas(
        batches,
        schema="move_uci string, parent_fen string, eran string, "
        "cnt long, first_game_id long",
    )


def epd_lines(entries_with_pos: DataFrame, min_count: int = 1) -> DataFrame:
    """EPD dump plan: one `line` per distinct position with
    cnt >= min_count. Requires entries built with
    include_positions=True (pos_cmp column).

    The decompress→EPD step is the one Python stage that touches every
    distinct surviving position, so it runs as an Arrow-batched
    mapInPandas (one Python round-trip per batch), not a row-at-a-time
    `F.udf` (one round-trip per position) — no BatchEvalPython node in
    the dump plan (pinned in test_plans)."""
    from collections.abc import Iterator

    import pandas as pd

    def to_epd_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            lines = []
            for pos_cmp, cnt in zip(pdf["pos_cmp"], pdf["cnt"]):
                p = Position.decompress(bytes(pos_cmp))
                placement, side, castling, ep, *_ = p.fen().split(" ")
                lines.append(
                    f"{placement} {side} {castling} {ep} ; c0 {cnt}"
                )
            yield pd.DataFrame({"line": lines})

    agg = (
        entries_with_pos.groupBy("pos_cmp")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    return agg.mapInPandas(to_epd_batches, schema="line string")


def dump_epd(
    entries_with_pos: DataFrame,
    out_path: str,
    min_count: int = 1,
) -> None:
    """EPD dump sink (reference `dump` command)."""
    epd_lines(entries_with_pos, min_count).write.mode("overwrite").text(out_path)


def transposition_stats(agg_entries: DataFrame, min_paths: int = 2) -> DataFrame:
    """Positions reached by MULTIPLE distinct preceding moves — the
    transposition inventory (reference semantics: an entry key is
    (pos_key, reverse_move, ...), so the number of distinct
    reverse_moves per pos_key IS the number of distinct move paths
    into the position; cf. SURVEY §2 J5/F6 on the packed reverse move).

    One partial-agg shuffle on pos_key; the per-position payload is a
    count + total, never the move list. Root entries (no reverse move)
    are excluded — the start position is trivially 'reached' once.
    """

    return (
        agg_entries.filter(F.col("reverse_move") != NO_REVERSE_MOVE)
        .groupBy("pos_key")
        .agg(
            F.countDistinct("reverse_move").alias("n_paths"),
            F.sum("cnt").alias("n_visits"),
        )
        .filter(F.col("n_paths") >= min_paths)
        .orderBy(F.desc("n_paths"), F.desc("n_visits"), F.asc("pos_key"))
    )


def explorer_tree(
    spark: SparkSession,
    entries: DataFrame,
    games: Optional[DataFrame],
    fen: str,
    depth: int = 2,
    top_n: int = 3,
    select: str = "continuation",
) -> dict:
    """Opening-tree expansion: the explorer followed `depth` plies down
    the `top_n` most-played continuations from `fen` — what the
    reference's GUI builds with one request per click, answered here in
    ONE batched explorer_query PER LEVEL (the frontier of level d probes
    as a single request: one pruned scan folded on the driver, plus the
    headers lookup), so a depth-4 × top-3 tree costs 4 requests, not 40.
    Frontier size is bounded by top_n^depth; the scan side stays the
    pruned IN-list scan of the single-position path. A depth-2 × top-3
    tree answers in about 0.35 s median on the database and host the
    module docstring names.

    Returns {"fen", "stats", "children": {san: {uci, total, subtree}}}.
    """

    def total_count(child_stats: dict) -> int:
        tot = 0
        for lvl_bucket in child_stats.get(select, {}).values():
            for cell in lvl_bucket.values():
                tot += cell.get("count", 0)
        return tot

    root = {"fen": fen, "stats": None, "children": {}}
    frontier = [(root, fen)]
    for _ in range(depth):
        if not frontier:
            break
        request = {
            "token": "tree",
            "positions": [{"fen": f} for _, f in frontier],
        }
        resp = explorer_query(spark, entries, games, request)
        next_frontier = []
        for (node, f), pos_resp in zip(frontier, resp["positions"]):
            node["stats"] = pos_resp["stats"]
            ranked = sorted(
                pos_resp["children"].items(),
                key=lambda kv: (-total_count(kv[1]["stats"]), kv[0]),
            )[:top_n]
            pos = Position.from_fen(f)
            for san, child in ranked:
                try:
                    child_fen = pos.make_move(pos.parse_san(san)).fen()
                except Exception:
                    continue  # unparsable edge (corrupt SAN) — skip
                child_node = {
                    "fen": child_fen,
                    "uci": child["uci"],
                    "total": total_count(child["stats"]),
                    "stats": child["stats"],
                    "children": {},
                }
                node["children"][san] = child_node
                next_frontier.append((child_node, child_fen))
        frontier = next_frontier
    return root
