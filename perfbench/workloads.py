"""The benchmark's workloads: `posdb` and `analytics`.

Each workload makes its inputs from the seed (`inputs`), brings the
engine to a ready state (`setup`), runs whole rounds of its fixed mix of
operations for at least the given time (`timed`), checks every answer
(`check`) and, in traced runs, derives its layer metrics from spans and
Spark's status store (`layers`).
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import random
import socket
import statistics
import time
import weakref
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal
from fractions import Fraction

import corpus
import tablegen
from probes import sum_jobs
from spans import self_times

# Registered queries of the analytics workload. The names are pinned here
# so that an edit to another query list cannot change the workload.
HEADLINE = [
    "agg_groupcount", "agg_rollup", "filter_range", "join_broadcast_lookup",
    "join_sortmerge", "join_dim_chain", "join_asof", "win_topk_per_group",
    "win_lag_lead", "sort_topk", "sort_merge_compact", "set_distinct",
    "dedup_exact_groups", "dedup_minhash_cluster", "dedup_simhash",
    "similarity_topk", "text_token_stats", "stream_session", "udtf_expand",
    "agg_median", "win_moving_avg", "sample_hash", "text_token_count_bpe",
    "subquery_exists", "similarity_ivf", "search_bm25_postings",
]
# bench.py's scale group plus er_resolve and dedup_semdedup: the queries
# whose shuffles, eager checkpoints and Arrow UDFs dominate on large inputs.
# On TABLE_ROWS-row tables they are bound by per-query fixed cost like the
# rest (a traced run reports suite.heavy_slot_use next to the headline's).
HEAVY = [
    "dedup_near", "dedup_verified_components", "join_fuzzy_levenshtein",
    "curation_funnel", "text_skipgram_pairs", "er_resolve", "dedup_semdedup",
]
CORPUS = corpus.CorpusShape(distinct_games=500, replication=8)
TABLE_ROWS = 5_000


@dataclass
class Op:
    """One timed operation: its latency, the round of the workload's
    fixed operation mix it belongs to, and what the answer check needs."""
    kind: str
    latency_s: float
    round: int = 0
    answer: object = None
    expect: object = None
    trace: int | None = None
    error: str | None = None
    layer: dict = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under `path`."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return size, files


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in glob.glob(os.path.join(path, "*.parquet")))


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx

    def install_spans(self) -> None:
        """Traced runs: wrap the engine functions this workload calls."""

    def read_jobs(self, op: "Op", group: str) -> None:
        """Traced runs: the op's jobs from the status store, read right
        after the op because the store keeps a bounded number of jobs."""
        if self.ctx.tracer.enabled:
            with self.ctx.tracer.span("trace.status_store"):
                op.layer["jobs"] = self.ctx.store.jobs(group)
            op.layer["spark"] = sum_jobs(op.layer["jobs"])

    def close(self) -> None:
        pass

    def run_rounds(self, seconds: float, step, per_round: int) -> list[Op]:
        """Whole rounds of `per_round` calls `step(i)` (i = position in
        the round) until `seconds` have passed; at least one round."""
        ops, t0, r = [], time.perf_counter(), 0
        while not ops or time.perf_counter() - t0 < seconds:
            for i in range(per_round):
                op = step(i)
                op.round = r
                ops.append(op)
            r += 1
        return ops

    def spark_layers(self, ops: list[Op], wall_key: str) -> dict:
        """The spark.* set, per operation, from each op's job group."""
        total = {}
        for op in ops:
            for k, v in op.layer.get("spark", {}).items():
                total[k] = total.get(k, 0) + v
        n = max(1, len(ops))
        out = {f"spark.{k}": total.get(k, 0) / n for k in (
            "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "gc_s", "shuffle_write_bytes", "spill_bytes", "input_bytes")}
        wall = sum(op.layer.get(wall_key, 0.0) for op in ops)
        run = total.get("executor_run_s", 0.0)
        out["spark.cpu_per_run"] = total.get("executor_cpu_s", 0.0) / run if run else 0.0
        out["spark.slot_use"] = run / (wall * self.ctx.cpus) if wall else 0.0
        out["spark.call_s"] = sum(op.layer.get("call_s", 0.0) for op in ops) / n
        return out


class PosDbWorkload(Workload):
    """The position database through the server's TCP protocol: one
    client in a closed loop over a persistent connection. Each round it
    creates a database from the seeded corpus (`create`: Engine.handle ->
    importer.import_pgn), which also opens it, and then explores that
    database with REQUESTS requests. The create is the write path (PGN
    parsing and board replay in Python workers, the aggregation shuffle,
    sorted-run writes); the requests are the read path on the layout it
    wrote (many small Spark jobs, driver-side movegen, no Python workers)."""

    name = "posdb"
    # explorer request i of a round: a depth-2 tree when i == 5, a batch
    # of three positions when i % 5 == 2, else one position, alternately
    # hot (an opening ply, large grids) and deep (a tail, few games)
    REQUESTS = 10
    WARM_REQUESTS = (0, 2, 5)  # a single query, a batch, a tree

    def inputs(self, seed: int) -> dict:
        self.corpus = corpus.cached(seed, CORPUS, self.ctx.cache_dir)
        return {k: self.corpus[k] for k in (
            "games", "distinct_games", "replication", "positions",
            "distinct_positions", "bytes")}

    def setup(self, spark) -> None:
        from chess_pos_db_spark.app import server

        self.server = server
        self.eng = server.Engine(spark)
        self.srv, _thread, port = server.serve_tcp(self.eng)
        self.sock = socket.create_connection(("127.0.0.1", port))
        self.wire = self.sock.makefile("rwb")
        self.rng = random.Random(self.ctx.seed)
        self.dbs: list[str] = []
        # one level's first file warms the whole create path, and one
        # request of each kind on that database the query and tree plans
        warm = {"human": self.corpus["files"]["human"][:1]}
        r = self.request(self.create_command(
            os.path.join(self.ctx.run_dir, "warm"), warm))
        if not r.get("ok"):
            raise RuntimeError(f"warm-up create failed: {r.get('error')}")
        for i in self.WARM_REQUESTS:
            self.request(self.make_request(i)[0])

    def close(self) -> None:
        if getattr(self, "sock", None) is not None:
            self.wire.write(b'{"command": "exit"}\n')
            self.wire.flush()
            self.wire.close()
            self.sock.close()
            self.srv.shutdown()
            self.srv.server_close()
            self.sock = None

    @staticmethod
    def create_command(dest: str, files: dict) -> dict:
        return {"command": "create", "destination": dest, "files": files}

    def make_request(self, i: int):
        """(command, expected root totals) of explorer request `i`."""
        hot, deep = self.corpus["probe_hot"], self.corpus["probe_deep"]
        if i == 5:
            fen, count = self.rng.choice(hot)
            return {"command": "tree", "fen": fen, "depth": 2}, [count]
        if i % 5 == 2:
            chosen = [self.rng.choice(hot), self.rng.choice(deep),
                      self.rng.choice(deep)]
        else:
            chosen = [self.rng.choice(hot if i % 2 == 0 else deep)]
        return ({"command": "query",
                 "query": {"token": "perfbench",
                           "positions": [{"fen": f} for f, _ in chosen]}},
                [c for _, c in chosen])

    def request(self, cmd: dict) -> dict:
        self.wire.write((json.dumps(cmd) + "\n").encode("utf-8"))
        self.wire.flush()
        return json.loads(self.wire.readline().decode("utf-8"))

    def timed(self, seconds: float) -> list[Op]:
        tracer = self.ctx.tracer

        def step(i: int) -> Op:
            if i == 0:  # a fresh database per round
                self.dbs.append(os.path.join(self.ctx.run_dir, f"db{len(self.dbs)}"))
                cmd = self.create_command(self.dbs[-1], self.corpus["files"])
                expect = None
            else:
                cmd, expect = self.make_request(i - 1)
            with tracer.span("op." + cmd["command"], new_trace=True) as s:
                tracer.handoff = s
                t = time.perf_counter()
                r = self.request(cmd)
                dt = time.perf_counter() - t
                tracer.handoff = None
            op = Op(cmd["command"], dt, answer=r, expect=expect, trace=s.trace)
            self.read_jobs(op, f"op{s.trace}")
            return op

        return self.run_rounds(seconds, step, 1 + self.REQUESTS)

    @staticmethod
    def root_total(stats: dict) -> int:
        return sum(cell.get("count", 0)
                   for by_result in stats.get("all", {}).values()
                   for cell in by_result.values())

    def check(self, ops: list[Op]) -> list[str]:
        """A create must report the generator's game and position counts;
        every explorer answer must be ok, with each root total (summed over
        levels and results) equal to the position's occurrence count."""
        want = {"games": self.corpus["games"], "skipped": 0,
                "dropped_invalid": 0, "positions": self.corpus["positions"]}
        bad = []
        for i, op in enumerate(ops):
            r = op.answer
            if not r.get("ok"):
                bad.append(f"{op.kind} {i}: {r.get('error')}")
            elif op.kind == "create":
                got = {k: r.get("import", {}).get(k) for k in want}
                if got != want:
                    bad.append(f"create {i}: {got} != {want}")
            else:
                if op.kind == "tree":
                    got = [self.root_total(r["tree"]["stats"] or {})]
                else:
                    got = [self.root_total(p["stats"])
                           for p in r["response"]["positions"]]
                if got != op.expect:
                    bad.append(f"{op.kind} {i}: root totals {got} != {op.expect}")
        return bad

    def storage(self) -> dict:
        db = self.dbs[-1]
        size, files = _dir_bytes(db)
        entries_bytes, _ = _dir_bytes(os.path.join(db, "entries"))
        entries = _parquet_rows(os.path.join(db, "entries"))
        pos = self.corpus["positions"]
        return {"db_bytes_per_position": size / pos,
                "layout.bytes_written": size, "layout.files_written": files,
                "layout.bytes_per_entry": entries_bytes / entries,
                "importer.entries_per_position": entries / pos}

    def summary(self, ops: list[Op], wall: float) -> dict:
        creates = [op.latency_s for op in ops if op.kind == "create"]
        q = sorted(op.latency_s for op in ops if op.kind == "query")
        t = [op.latency_s for op in ops if op.kind == "tree"]
        storage = self.storage()
        out = {"rounds": len(creates), "queries": len(q), "trees": len(t),
               "create_s": statistics.median(creates),
               "positions_per_s": self.corpus["positions"] * len(creates)
               / sum(creates),
               "db_bytes_per_position": storage["db_bytes_per_position"],
               "entries_per_position": storage["importer.entries_per_position"],
               "request_p50_ms": 1e3 * statistics.median(q),
               "request_p90_ms": 1e3 * q[min(len(q) - 1, int(0.9 * len(q)))],
               "request_p90_samples_beyond": len(q) - 1 - int(0.9 * len(q))}
        if t:
            out["tree_p50_ms"] = 1e3 * statistics.median(t)
        return out

    def install_spans(self) -> None:
        from chess_pos_db_spark.chess import importer, query
        from chess_pos_db_spark.plans import layout

        tracer, store = self.ctx.tracer, self.ctx.store

        # each command's Spark jobs go to a job group named after its
        # trace, set on the server's handler thread that runs them
        def group(span, args, kwargs):
            store.set_group(f"op{span.trace}")

        tracer.wrap(self.server.Engine, "handle", "server.handle", before=group)
        tracer.wrap(importer, "import_pgn", "importer.import_pgn")

        def path(span, args, kwargs):
            span.attrs["path"] = str(args[1] if len(args) > 1 else kwargs["path"])

        tracer.wrap(layout, "write_sorted_run", "layout.write_sorted_run",
                    before=path)
        tracer.wrap(query, "explorer_tree", "tree")
        tracer.wrap(query, "explorer_query", "query.explorer_query")

        def count(span, probes):
            span.attrs["probes"] = len(probes)

        tracer.wrap(query, "build_probes", "query.build_probes", after=count)

        # the grid is read by collecting the frame probe_entries returns;
        # any other collect inside explorer_query reads game headers
        grids = weakref.WeakSet()
        tracer.wrap(query, "probe_entries", "query.probe_entries",
                    after=lambda span, df: grids.add(df))

        def part(span, args, kwargs):
            span.attrs["grid"] = args[0] in grids

        tracer.wrap(type(self.ctx.spark.range(0)), "collect", "spark.collect",
                    before=part)

    @staticmethod
    def job_parts(jobs: list[dict], collects: list) -> list[str]:
        """'grid', 'headers' or 'other' per job: which collect inside
        explorer_query submitted it (job times are whole milliseconds)."""
        out = []
        for j in jobs:
            at = j["submitted_ms"] / 1e3
            span = next((s for s in collects if s.start - 0.002 <= at <= s.end), None)
            out.append("other" if span is None
                       else "grid" if span.attrs["grid"] else "headers")
        return out

    def layers(self, ops: list[Op], spans) -> dict:
        by_trace = {}
        for s in spans:
            by_trace.setdefault(s.trace, []).append(s)
        for op in ops:
            op.layer["handle_s"] = op.layer["call_s"] = sum(
                s.duration for s in by_trace.get(op.trace, [])
                if s.name == "server.handle")
        creates = [op for op in ops if op.kind == "create"]
        requests = [op for op in ops if op.kind != "create"]
        out = self.spark_layers(ops, "handle_s")
        out.update(self.import_layers(creates, spans))
        out.update(self.explorer_layers(requests, spans, by_trace))
        out.update(self.stage_split())
        out.update({k: v for k, v in self.storage().items() if "." in k})
        return out

    def import_layers(self, creates: list[Op], spans) -> dict:
        own = self_times(spans)
        writes = {"games": 0.0, "entries": 0.0}
        report = 0.0
        for s in spans:
            if s.name == "layout.write_sorted_run":
                kind = os.path.basename(s.attrs["path"].rstrip("/"))
                writes[kind] = writes.get(kind, 0.0) + s.duration
            elif s.name == "importer.import_pgn":
                report += own[s.id]
        n = len(creates)
        spark = self.spark_layers(creates, "handle_s")
        return {
            "importer.create_ms": 1e3 * _mean(op.layer["handle_s"] for op in creates),
            "importer.games_write_s": writes["games"] / n,
            "importer.entries_write_s": writes["entries"] / n,
            "importer.report_s": report / n,
            "importer.shuffle_write_bytes": spark["spark.shuffle_write_bytes"],
            "importer.spill_bytes": spark["spark.spill_bytes"],
            "importer.tasks": spark["spark.tasks"],
        }

    def stage_split(self) -> dict:
        """Parse, replay and aggregate cost: noop-sink runs of each
        pipeline prefix, self time taken by difference."""
        from chess_pos_db_spark.chess import importer

        spark = self.ctx.spark
        files = [(p, lvl) for lvl, ps in self.corpus["files"].items() for p in ps]
        par = spark.sparkContext.defaultParallelism

        def parsed():
            return importer.parse_games_chunked(spark, files)

        def replayed():
            return importer.explode_positions(parsed().repartition(par))

        prefixes = [("parse", parsed),
                    ("replay", replayed),
                    ("aggregate", lambda: importer.build_agg_entries(replayed()))]
        out, prev = {}, 0.0
        for name, build in prefixes:
            t = time.perf_counter()
            _noop(build())
            total = time.perf_counter() - t
            out[f"importer.{name}_s"] = total - prev
            prev = total
        return out

    def explorer_layers(self, requests: list[Op], spans, by_trace) -> dict:
        names = {s.id: s.name for s in spans}
        parts = {"grid": [], "headers": []}
        probes, levels = [], []
        for op in requests:
            jobs = op.layer["jobs"]
            mine = by_trace.get(op.trace, [])
            op.layer["probes"] = sum(s.attrs.get("probes", 0) for s in mine)
            collects = sorted((s for s in mine if s.name == "spark.collect"
                               and names.get(s.parent) == "query.explorer_query"),
                              key=lambda s: s.start)
            job_part = self.job_parts(jobs, collects)
            if "grid" not in job_part:
                raise RuntimeError(f"{op.kind} request {op.trace}: no job reads "
                                   "the grid that probe_entries builds")
            grid = [j for j, p in zip(jobs, job_part) if p == "grid"]
            op.layer["grid_rows"] = sum(j["inputRecords"] for j in grid)
            for part in parts:
                parts[part].append(sum(j["wall_ms"] for j, p in zip(jobs, job_part)
                                       if p == part))
            if op.kind == "query":
                probes.append(op.layer["probes"])
            tree_ids = {s.id for s in mine if s.name == "tree"}
            levels += [s.duration for s in mine
                       if s.name == "query.explorer_query" and s.parent in tree_ids]
        n = len(requests)
        spark = self.spark_layers(requests, "handle_s")
        return {
            "server.handle_ms": 1e3 * _mean(op.layer["handle_s"] for op in requests),
            "server.wire_ms": 1e3 * _mean(op.latency_s - op.layer["handle_s"]
                                          for op in requests),
            "query.build_probes_ms": 1e3 * sum(
                s.duration for s in spans if s.name == "query.build_probes") / n,
            "query.grid_ms": _mean(parts["grid"]),
            "query.headers_ms": _mean(parts["headers"]),
            "query.jobs_per_request": spark["spark.jobs"],
            "query.tasks_per_request": spark["spark.tasks"],
            "query.probes_per_request": _mean(probes),
            "query.rows_read_per_probe": sum(op.layer["grid_rows"] for op in requests)
            / max(1, sum(op.layer["probes"] for op in requests)),
            "query.bytes_read_per_request": _mean(
                op.layer["spark"]["input_bytes"] for op in requests
                if op.kind == "query"),
            "tree.ms_per_level": 1e3 * _mean(levels),
        }


def _norm(v):
    """One cell as the repo's oracle tests compare it: NaN as NULL, numbers
    by exact value whatever their type (so -0.0 as 0), dates and times as
    ISO text, arrays and rows as tuples."""
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return Fraction(v) if math.isfinite(v) else v
    if isinstance(v, int) or (isinstance(v, Decimal) and v.is_finite()):
        return Fraction(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def canonical_digest(columns, rows) -> list:
    """[sorted column names, row count, sha256 of the rows]: equal for the
    same columns in any order and equal multisets of rows in any order."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_norm(r[i]) for i in idx)) for r in rows)
    h = hashlib.sha256()
    for r in canon:
        h.update(r.encode("utf-8"))
        h.update(b"\n")
    return [[columns[i] for i in idx], len(canon), h.hexdigest()]


class AnalyticsWorkload(Workload):
    """Passes over the pinned registered queries on seeded tables, each
    query collected to the driver and checked against its DuckDB oracle.

    Set-up builds the BM25 postings index that `search_bm25_postings`
    keeps per corpus, as `bench.py`'s warm-up does, so a pass is the first
    run of every query in the process after that build. (The rest of
    `bench.py`'s warm-up adds about 5 s to set-up and was measured to take
    no time out of the pass nor to make it steadier.)"""

    name = "analytics"
    QUERIES = HEADLINE + HEAVY

    def inputs(self, seed: int) -> dict:
        self.data = tablegen.cached(seed, TABLE_ROWS, self.ctx.cache_dir)
        self.expected = self.oracle_answers()
        sizes = tablegen.sizes(self.data)
        return {"tables": sizes,
                "bytes": sum(t["bytes"] for t in sizes.values())}

    def oracle_answers(self) -> dict:
        """DuckDB answers of every query, cached next to the tables."""
        path = os.path.join(self.data, "oracle_digests.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        import duckdb

        import chess_pos_db_spark as engine

        oracles = engine.get_oracles()
        con = duckdb.connect()
        try:
            for t in tablegen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data}/{t}.parquet')")
            out = {}
            for q in self.QUERIES:
                res = con.execute(oracles[q])
                out[q] = canonical_digest([d[0] for d in res.description],
                                          res.fetchall())
        finally:
            con.close()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
        return out

    def setup(self, spark) -> None:
        import chess_pos_db_spark as engine

        self.queries = engine.get_queries()
        _noop(self.queries["search_bm25_postings"](spark, self.data))

    def timed(self, seconds: float) -> list[Op]:
        spark, tracer, store = self.ctx.spark, self.ctx.tracer, self.ctx.store
        traced = tracer.enabled
        ops: list[Op] = []
        t0 = time.perf_counter()
        passes = 0
        while not ops or time.perf_counter() - t0 < seconds:
            for q in self.QUERIES:
                group = f"q.{q}.{passes}"
                if traced:
                    store.set_group(group)
                    with tracer.span("trace.proc"):
                        cpu0 = self.ctx.proc.snapshot()
                with tracer.span("op.query", new_trace=True, query=q) as s:
                    op = Op("query", 0.0, round=passes, expect=q, trace=s.trace)
                    t = time.perf_counter()
                    try:
                        with tracer.span("spark.call"):
                            df = self.queries[q](spark, self.data)
                        if traced:
                            with tracer.span("spark.plan"):
                                df._jdf.queryExecution().executedPlan()
                        with tracer.span("spark.exec"):
                            rows = df.collect()
                    except Exception as exc:  # a failed query is counted, not fatal
                        op.error = f"{type(exc).__name__}: {exc}"[:500]
                    op.latency_s = time.perf_counter() - t
                    if op.error is None:
                        op.answer = (df.columns, rows)
                if traced:
                    with tracer.span("trace.proc"):
                        op.layer["cpu_s"] = self.ctx.proc.cpu_delta(
                            cpu0, self.ctx.proc.snapshot())["total"]
                    self.read_jobs(op, group)
                ops.append(op)
            passes += 1
        return ops

    def check(self, ops: list[Op]) -> list[str]:
        bad = []
        for op in ops:
            if op.error is not None:
                bad.append(f"{op.expect}: {op.error}")
                continue
            got = canonical_digest(*op.answer)
            want = self.expected[op.expect]
            op.answer = None  # the rows are not needed after the check
            if got != want:
                bad.append(f"{op.expect}: columns/rows/digest {got} != oracle {want}")
        return bad

    def summary(self, ops: list[Op], wall: float) -> dict:
        per: dict[str, list[float]] = {}
        for op in ops:
            per.setdefault(op.expect, []).append(op.latency_s)
        med = {q: statistics.median(v) for q, v in per.items()}
        passes = ops[-1].round + 1
        return {"suite_s": wall / passes, "passes": passes,
                "query_p50_ms": 1e3 * statistics.median(op.latency_s for op in ops),
                "headline_s": sum(med[q] for q in HEADLINE),
                "heavy_s": sum(med[q] for q in HEAVY)}

    def layers(self, ops: list[Op], spans) -> dict:
        by_trace: dict[int, dict] = {}
        for s in spans:
            by_trace.setdefault(s.trace, {})[s.name] = s
        plan = exec_ = eager = 0.0
        for op in ops:
            jobs = op.layer["jobs"]
            mine = by_trace[op.trace]
            call = mine["spark.call"]
            op.layer["call_s"] = call.duration
            op.layer["exec_s"] = mine["spark.exec"].duration
            plan += mine["spark.plan"].duration
            exec_ += op.layer["exec_s"]
            eager += sum(1 for j in jobs if j["submitted_ms"] / 1e3 < call.end)
        n = len(ops)
        out = self.spark_layers(ops, "exec_s")
        out.update({"spark.plan_s": plan / n, "spark.exec_s": exec_ / n,
                    "spark.eager_jobs": eager / n})
        per: dict[str, list[Op]] = {}
        for op in ops:
            per.setdefault(op.expect, []).append(op)
        for q, qops in per.items():
            out[f"q.{q}.s"] = statistics.median(o.latency_s for o in qops)
            out[f"q.{q}.slot_use"] = self.slot_use(qops)
            if q in HEAVY:
                out[f"q.{q}.cpu_s"] = statistics.median(
                    o.layer["cpu_s"] for o in qops)
        for group, names in (("headline", HEADLINE), ("heavy", HEAVY)):
            out[f"suite.{group}_slot_use"] = self.slot_use(
                [op for op in ops if op.expect in names])
        return out

    def slot_use(self, ops: list[Op]) -> float:
        """Executor run time over (query wall time x cores): the share of
        the queries' time the executor slots are busy."""
        wall = sum(op.latency_s for op in ops)
        run = sum(op.layer["spark"]["executor_run_s"] for op in ops)
        return run / (wall * self.ctx.cpus) if wall else 0.0


WORKLOADS = {w.name: w for w in (PosDbWorkload, AnalyticsWorkload)}
