"""Seeded PGN corpus for the `posdb` workload.

Games are built with `chess.board`'s `Position` alone (legal-move
generation, move making and zobrist keys); no PGN code of the engine is
used, so the corpus and the counts derived from it are an independent
reference for the import report and for explorer answers.

Shape: a few hot opening prefixes chosen with a Zipf skew, each continued
by a distinct random tail. Every distinct game is written `replication`
times with its own header (level, result and Elo vary), so the importer
parses and replays every copy while the aggregated store holds one entry
per distinct (position, move, level, result). Game lengths depend on the
game's index only, so every seed yields (nearly) the same position count
and runs on different seeds measure the same amount of work.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from collections import Counter
from dataclasses import astuple, dataclass

from chess_pos_db_spark.chess.board import (
    F_CASTLE_K,
    F_CASTLE_Q,
    F_EP,
    START_FEN,
    Position,
    sq_file,
    sq_name,
    sq_rank,
)

LEVELS = ("human", "engine", "server")
RESULT_TOKEN = {"W": "1-0", "B": "0-1", "D": "1/2-1/2"}


@dataclass(frozen=True)
class CorpusShape:
    distinct_games: int
    replication: int
    openings: int = 12
    prefix_plies: tuple[int, int] = (4, 10)
    game_plies: tuple[int, int] = (30, 64)
    files_per_level: int = 2

    def tag(self) -> str:
        return "-".join(
            str(v) for f in astuple(self)
            for v in (f if isinstance(f, tuple) else (f,))
        )


def _san(pos: Position, m, moves: list) -> str:
    """SAN of legal move `m`, disambiguated against `moves` (the legal
    moves of `pos`); the check suffix is added by the caller."""
    if m.flag == F_CASTLE_K:
        return "O-O"
    if m.flag == F_CASTLE_Q:
        return "O-O-O"
    capture = "x" if pos.board[m.to_sq] or m.flag == F_EP else ""
    if m.piece in "Pp":
        prefix = sq_name(m.from_sq)[0] if capture else ""
        promo = "=" + m.promo.upper() if m.promo else ""
        return prefix + capture + sq_name(m.to_sq) + promo
    rivals = [
        x for x in moves
        if x.piece == m.piece and x.to_sq == m.to_sq and x.from_sq != m.from_sq
    ]
    dis = ""
    if rivals:
        if all(sq_file(x.from_sq) != sq_file(m.from_sq) for x in rivals):
            dis = sq_name(m.from_sq)[0]
        elif all(sq_rank(x.from_sq) != sq_rank(m.from_sq) for x in rivals):
            dis = sq_name(m.from_sq)[1]
        else:
            dis = sq_name(m.from_sq)
    return m.piece.upper() + dis + capture + sq_name(m.to_sq)


def random_line(rng: random.Random, start: Position, plies: int):
    """Up to `plies` random legal moves from `start` -> (sans, seen), where
    seen[i] is the position before move i and seen[-1] the final one."""
    pos, sans, seen = start, [], [start]
    moves = pos.legal_moves()
    for _ in range(plies):
        if not moves:
            break
        m = rng.choice(moves)
        san = _san(pos, m, moves)
        pos = pos.make_move(m)
        moves = pos.legal_moves()
        if pos.in_check():
            san += "+" if moves else "#"
        sans.append(san)
        seen.append(pos)
    return sans, seen


def _pgn(tags: dict, sans: list[str], result: str) -> str:
    head = "".join(f'[{k} "{v}"]\n' for k, v in tags.items())
    moves = []
    for i, san in enumerate(sans):
        if i % 2 == 0:
            moves.append(f"{i // 2 + 1}.")
        moves.append(san)
    moves.append(RESULT_TOKEN[result])
    return head + "\n" + " ".join(moves) + "\n\n"


def _openings(seed: int, shape: CorpusShape) -> tuple[random.Random, list]:
    """The seeded opening lines as (sans, positions), and the generator
    state after them (which then draws the game headers)."""
    rng = random.Random(seed)
    start = Position.from_fen(START_FEN)
    lo, hi = shape.prefix_plies
    return rng, [random_line(rng, start, lo + i % (hi - lo + 1))
                 for i in range(shape.openings)]


def _tails(seed: int, shape: CorpusShape, openings: list) -> list:
    """The distinct games: (opening index, sans, position keys, deep probe
    or None) per game."""
    rng = random.Random(f"{seed}/tails")
    weights = [1.0 / (i + 1) for i in range(len(openings))]
    lo, hi = shape.game_plies
    out = []
    for g in range(shape.distinct_games):
        o = rng.choices(range(len(openings)), weights)[0]
        o_sans, o_seen = openings[o]
        t_sans, t_seen = random_line(
            rng, o_seen[-1], lo + g * 37 % (hi - lo + 1) - len(o_sans)
        )
        keys = [p.key() for p in t_seen[1:]]
        deep = None
        if len(t_seen) > 12:
            p = t_seen[rng.randint(10, len(t_seen) - 1)]
            deep = (p.key(), p.fen())
        out.append((o, o_sans + t_sans, keys, deep))
    return out


def generate(seed: int, shape: CorpusShape, out_dir: str) -> dict:
    """Write the corpus under `out_dir` and return its manifest: the
    file list per level, game and position counts, and the explorer
    probe set with the occurrence count of every probed position."""
    rng, openings = _openings(seed, shape)
    opening_keys, fens = [], {}
    for _sans, seen in openings:
        opening_keys.append([p.key() for p in seen])
        for p in seen:
            fens.setdefault(p.key(), p.fen())
    distinct = _tails(seed, shape, openings)

    occurrences: Counter = Counter()
    deep_keys = []
    for o, _sans, keys, deep in distinct:
        for k in opening_keys[o]:
            occurrences[k] += shape.replication
        for k in keys:
            occurrences[k] += shape.replication
        if deep is not None:
            fens.setdefault(deep[0], deep[1])
            deep_keys.append(deep[0])

    paths: dict[str, list[str]] = {
        lvl: [os.path.join(out_dir, f"{lvl}_{i}.pgn")
              for i in range(shape.files_per_level)]
        for lvl in LEVELS
    }
    handles = {p: open(p, "w", encoding="utf-8")
               for ps in paths.values() for p in ps}
    try:
        for copy in range(shape.replication):
            for g, (_o, sans, _k, _d) in enumerate(distinct):
                lvl = rng.choices(LEVELS, (6, 3, 1))[0]
                result = rng.choices("WBD", (4, 3, 3))[0]
                tags = {
                    "Event": f"perfbench {seed} {g}",
                    "Site": "perfbench",
                    "Date": f"{rng.randint(1990, 2024)}."
                    f"{rng.randint(1, 12):02d}.{rng.randint(1, 28):02d}",
                    "Round": str(copy + 1),
                    "White": f"W{rng.randint(0, 999)}",
                    "Black": f"B{rng.randint(0, 999)}",
                    "Result": RESULT_TOKEN[result],
                    "WhiteElo": str(rng.randint(1200, 2850)),
                    "BlackElo": str(rng.randint(1200, 2850)),
                }
                handles[rng.choice(paths[lvl])].write(_pgn(tags, sans, result))
    finally:
        for h in handles.values():
            h.close()

    hot = sorted({k for ks in opening_keys for k in ks})
    return {
        "seed": seed,
        "shape": shape.tag(),
        "files": {lvl: [os.path.basename(p) for p in ps]
                  for lvl, ps in paths.items()},
        "games": shape.distinct_games * shape.replication,
        "distinct_games": shape.distinct_games,
        "replication": shape.replication,
        "positions": sum(len(g[1]) + 1 for g in distinct) * shape.replication,
        "distinct_positions": len(occurrences),
        "bytes": sum(os.path.getsize(p) for ps in paths.values() for p in ps),
        "probe_hot": [(fens[k], occurrences[k]) for k in hot],
        "probe_deep": [(fens[k], occurrences[k]) for k in sorted(set(deep_keys))],
    }


def cached(seed: int, shape: CorpusShape, cache_root: str) -> dict:
    """`generate` once per (seed, shape) under `cache_root`; the returned
    manifest's `files` are absolute paths."""
    out_dir = os.path.join(cache_root, f"corpus-{seed}-{shape.tag()}")
    manifest_path = os.path.join(out_dir, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = f"{out_dir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        manifest = generate(seed, shape, tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        try:
            os.rename(tmp, out_dir)
        except OSError:  # another process cached the same corpus first
            shutil.rmtree(tmp, ignore_errors=True)
    with open(manifest_path) as f:
        manifest = json.load(f)
    manifest["files"] = {
        lvl: [os.path.join(out_dir, p) for p in ps]
        for lvl, ps in manifest["files"].items()
    }
    return manifest

