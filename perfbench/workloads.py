"""The benchmark's workloads.

Each workload runs as a closed loop from one client: an operation starts
when the previous one has finished.  A *pass* is the workload's fixed
list of operations; the measured window runs whole passes, so every run
measures the same mix whatever its length.  Outputs are kept and checked
after the window, outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import duckdb

from inputs import REPO, split_sorted
from procstat import tree_cpu_s
from tracer import per_pass

sys.path.insert(0, REPO)

# (rows, order-insensitive content hash) of an Arrow table, exactly as
# tools/check_oracle.py --checksum compares engine and oracle results
from check_oracle import _canonical_row_hashes as row_hash  # noqa: E402
from financial_data_lakehouse_pipeline__spark.corpus import sql_dsum  # noqa: E402


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"'{os.path.join(sf_dir, f)}'"
            )
    return con


# untimed passes before the window: with the JVM's JIT limited to its
# fast tier, one pass compiles what the later passes run
WARM_PASSES = 1


class Workload:
    """One workload: ``run_pass`` runs one pass, recording each operation
    through ``op`` as a dict with ``kind``, ``name``, ``s`` (wall seconds),
    ``cpu`` (CPU seconds) and ``out`` or ``error``; ``check`` then sets
    ``ok`` on every operation."""

    name = ""
    sf = 0.005
    primary = ""  # the operation kind op_cpu_s describes
    tables: tuple[str, ...] = ()

    def __init__(self, ctx):
        self.ctx = ctx

    def prepare(self) -> dict:
        """Untimed preparation after set-up; returns what it recorded."""
        return {}

    def layer_metrics(self, spans: list[dict], start: float, end: float,
                      n_pass: int) -> dict:
        """Per-layer values only this workload can see, per pass, from
        the window [start, end] and its spans."""
        return {}

    def op(self, kind: str, name: str, fn) -> dict:
        """Run one operation under an operation span and time it."""
        tr = self.ctx.tracer
        tr.op = f"{kind}:{name}:{len(self.ctx.ops)}"
        rec = {"kind": kind, "name": name}
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            with tr.span(f"op.{kind}"):
                rec["out"] = fn()
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            rec["error"] = traceback.format_exc()
            print(rec["error"], file=sys.stderr)
        rec["s"] = time.perf_counter() - t0
        rec["cpu"] = tree_cpu_s() - c0
        tr.op = None
        self.ctx.ops.append(rec)
        return rec


# -------------------------------------------------------------- lake_batch

OUTPUTS = ("correlation", "forward_returns", "events", "summary")

CLEANED_SQL = """
SELECT * FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
                               ORDER BY l_shipdate DESC, l_suppkey) AS rn
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_discount IS NOT NULL AND l_shipdate IS NOT NULL
    AND l_quantity > 0 AND l_extendedprice >= 0
    AND l_discount BETWEEN 0 AND 1
) WHERE rn = 1"""


QUERIES = (
    "grouped_stats_q1",
    "regional_revenue_q5",
    "cms_heavy_users",
    "pagerank_copurchase",
)


class LakeBatch(Workload):
    """The reference's three-job batch, then an analyst's queries.

    pipeline.run_pipeline runs clean -> indicators -> master, writes the
    master as the hive-partitioned lake and its analysis outputs are
    collected; then each corpus query is built and its result collected:
    a scan aggregate, a six-table join, a sketch over events and the
    pagerank driver loop, which pins intermediates between iterations."""

    name = "lake_batch"
    primary = "pipeline"
    tables = ("lineitem", "orders", "customer", "supplier", "nation",
              "region", "events")

    def prepare(self) -> dict:
        from financial_data_lakehouse_pipeline__spark import corpus

        qs = corpus.queries()
        self.queries = {n: qs[n] for n in QUERIES}
        return {"queries": list(QUERIES)}

    def run_pass(self, tag: str) -> None:
        from financial_data_lakehouse_pipeline__spark import pipeline

        ctx, tr = self.ctx, self.ctx.tracer
        out_dir = os.path.join(ctx.work, "lake", tag)

        def run_pipeline():
            with tr.span("pipeline.run_pipeline", "build"):
                res = pipeline.run_pipeline(ctx.spark, ctx.sf_dir, out_dir)
            outs = {}
            for name in OUTPUTS:
                with tr.span(f"pipeline.out.{name}", "exec"):
                    outs[name] = res[name].toArrow()
            outs["lake"] = os.path.join(out_dir, "master")
            return outs

        self.op("pipeline", "run_pipeline", run_pipeline)
        for name in QUERIES:
            def run(name=name):
                with tr.span("corpus.build", "build", query=name):
                    df = self.queries[name](ctx.spark, ctx.sf_dir)
                with tr.span("query.exec", "exec", query=name):
                    return df.toArrow()

            self.op("query", name, run)

    def check(self, ops: list[dict]) -> None:
        from financial_data_lakehouse_pipeline__spark import corpus

        con = duck(self.ctx.sf_dir)
        oracles = corpus.oracle_sql()
        want = {}
        for name in QUERIES:
            tbl = con.execute(oracles[name]).fetch_arrow_table()
            want[name] = (row_hash(tbl), sorted(tbl.column_names))
        con.execute(f"CREATE TEMP TABLE cleaned AS {CLEANED_SQL}")
        n_clean = con.execute("SELECT COUNT(*) FROM cleaned").fetchone()[0]
        n_flags = con.execute(
            "SELECT COUNT(DISTINCT l_returnflag) FROM cleaned"
        ).fetchone()[0]
        master = con.execute(
            f"""SELECT COUNT(*), SUM(CAST(revenue AS DECIMAL(38, 6))) FROM (
                  SELECT l_suppkey, CAST(l_shipdate AS DATE),
                         {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
                  FROM cleaned GROUP BY 1, 2)"""
        ).fetchone()
        for rec in ops:
            if "error" in rec:
                rec["ok"] = False
                continue
            o = rec.pop("out")
            if rec["kind"] == "query":
                rec["ok"] = (row_hash(o), sorted(o.column_names)) == want[rec["name"]]
                continue
            got = con.execute(
                "SELECT COUNT(*), SUM(CAST(revenue AS DECIMAL(38, 6))) FROM "
                f"read_parquet('{o['lake']}/**/*.parquet', hive_partitioning=1)"
            ).fetchone()
            corr = o["correlation"].column("qty_price_corr").to_pylist()
            ev = o["events"].to_pylist()
            rec["ok"] = (
                got == master
                and 0 < got[0] <= n_clean
                and o["forward_returns"].num_rows == n_clean
                and all(c is None or -1 <= c <= 1 for c in corr)
                and all(abs(r["signal"]) >= 20000 and r["n_lines"] >= 3 for r in ev)
                and {r["direction"] for r in ev} <= {"positive", "negative"}
                and o["summary"].num_rows == n_flags
            )


    def layer_metrics(self, spans: list[dict], start: float, end: float,
                      n_pass: int) -> dict:
        def tot(name, key=None):
            return per_pass(spans, name, n_pass, key)

        write = "writers.write_partitioned_parquet"
        v = {
            "pipeline.build_s": tot("pipeline.run_pipeline") - tot(write),
            "pipeline.build_jobs": tot("pipeline.run_pipeline", "jobs") - tot(write, "jobs"),
            "pipeline.exec_jobs": tot(write, "jobs") + sum(
                tot(f"pipeline.out.{o}", "jobs") for o in OUTPUTS),
            # the warm-up pass wrote a lake too
            "writers.files_written": sum(
                1 for _, _, fs in os.walk(os.path.join(self.ctx.work, "lake"))
                for f in fs if f.endswith(".parquet")
            ) / (n_pass + WARM_PASSES),
        }
        for o in OUTPUTS:
            v[f"pipeline.out.{o}_s"] = tot(f"pipeline.out.{o}")
        return v


# ------------------------------------------------------------- ingest_read

EVENT_FILES = 6  # event micro-batches per pass, one commit each
DOC_FILES = 2  # document micro-batches per pass through the dedup sink
EVENT_SPLIT = 24  # source files the seeded events are split into
DOC_SPLIT = 8


class IngestRead(Workload):
    """Streaming commits beside reads: seeded events stream one file per
    micro-batch through streaming.acid_append_sink into a fresh ACID
    table, with a stats-pruned acid.scan and a full acid.read_snapshot
    after every commit; seeded documents stream through
    streaming.dedup_ingest_sink.  Every pass starts from fresh table,
    checkpoint and source directories, so every pass does the same work."""

    name = "ingest_read"
    primary = "commit"
    tables = ("events", "documents")

    def prepare(self) -> dict:
        ctx = self.ctx
        split = os.path.join(ctx.work, "split")
        self.ev_files = split_sorted(
            os.path.join(ctx.sf_dir, "events.parquet"), "event_id",
            EVENT_SPLIT, os.path.join(split, "events"),
        )[:EVENT_FILES]
        self.doc_files = split_sorted(
            os.path.join(ctx.sf_dir, "documents.parquet"), "doc_id",
            DOC_SPLIT, os.path.join(split, "documents"),
        )[:DOC_FILES]
        self.ev_schema = ctx.spark.read.parquet(self.ev_files[0]["path"]).schema
        self.doc_schema = ctx.spark.read.parquet(self.doc_files[0]["path"]).schema
        self.passes: list[dict] = []
        self.progress: list[dict] = []
        self.pruning: list[tuple[float, float, int]] = []
        return {
            "events_files": [{k: f[k] for k in ("rows", "min", "max")} for f in self.ev_files],
            "documents_files": [{k: f[k] for k in ("rows", "min", "max")} for f in self.doc_files],
            "split": {"events": EVENT_SPLIT, "documents": DOC_SPLIT},
        }

    def _trigger(self, sink, src: str, schema, root: str, ck: str, qname: str):
        """Start the sink over ``src``, wait until the new file is
        committed, and record the micro-batch's progress durations."""
        from financial_data_lakehouse_pipeline__spark import streaming

        with self.ctx.tracer.span("streaming.trigger"):
            t0 = time.time()
            q = sink(
                streaming.stream_from_parquet_dir(self.ctx.spark, src, schema),
                root, query_name=qname, checkpoint_location=ck,
            )
            q.awaitTermination()
            t1 = time.time()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        batches = [p.durationMs for p in q.recentProgress if p.numInputRows]
        self.progress.append({"start": t0, "s": t1 - t0, "sink": qname[:2],
                              "batches": batches})
        return len(batches)

    def run_pass(self, tag: str) -> None:
        from financial_data_lakehouse_pipeline__spark import streaming
        from financial_data_lakehouse_pipeline__spark.sources import acid

        ctx, tr = self.ctx, self.ctx.tracer
        base = os.path.join(ctx.work, "ingest", tag)
        d = {k: os.path.join(base, k) for k in
             ("ev_src", "ev_table", "ev_ck", "doc_src", "doc_table", "doc_ck")}
        for k in ("ev_src", "doc_src"):
            os.makedirs(d[k])
        self.passes.append(d)
        doc_every = EVENT_FILES // DOC_FILES
        for i, f in enumerate(self.ev_files):
            shutil.copy(f["path"], d["ev_src"])
            self.op("commit", f"events-{i}", lambda: self._trigger(
                streaming.acid_append_sink, d["ev_src"], self.ev_schema,
                d["ev_table"], d["ev_ck"], f"ev_{tag}"))
            pred = [("event_id", ">=", f["min"]), ("event_id", "<=", f["max"])]

            def scan(pred=pred):
                with tr.span("acid.scan"):
                    tbl = acid.scan(ctx.spark, d["ev_table"], pred).toArrow()
                return tbl, pred

            rec = self.op("scan", f"events-{i}", scan)
            if tr.enabled:  # outside the operation: a log read per scan
                live = acid.snapshot_files(d["ev_table"])
                self.pruning.append((
                    time.time() - rec["s"],
                    len(acid.pruned_files(d["ev_table"], pred)) / len(live),
                    len(live),
                ))

            def read():
                with tr.span("acid.read_snapshot"):
                    return acid.read_snapshot(ctx.spark, d["ev_table"]).toArrow()

            self.op("read", f"events-{i}", read)
            if (i + 1) % doc_every == 0:
                j = (i + 1) // doc_every - 1
                shutil.copy(self.doc_files[j]["path"], d["doc_src"])
                self.op("dedup", f"documents-{j}", lambda: self._trigger(
                    streaming.dedup_ingest_sink, d["doc_src"], self.doc_schema,
                    d["doc_table"], d["doc_ck"], f"doc_{tag}"))

    def check(self, ops: list[dict]) -> None:
        from financial_data_lakehouse_pipeline__spark.sources import acid

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")

        def files(paths):
            return "[" + ", ".join(f"'{p}'" for p in paths) + "]"

        src_ev = files(f["path"] for f in self.ev_files)
        src_rows, src_hash = row_hash(
            con.execute(f"SELECT * FROM read_parquet({src_ev})").fetch_arrow_table())
        src_docs = files(f["path"] for f in self.doc_files)
        # per pass: head == source (count and hash), one version per
        # micro-batch, and no repeated doc_id among ingested documents
        verdict = {}
        for p, d in enumerate(self.passes):
            ok = {"commit": False, "dedup": False}
            try:
                live = [os.path.join(d["ev_table"], r) for r in acid.snapshot_files(d["ev_table"])]
                head = row_hash(con.execute(
                    f"SELECT * FROM read_parquet({files(live)})").fetch_arrow_table())
                ok["commit"] = (
                    head == (src_rows, src_hash)
                    and acid.latest_version(d["ev_table"]) == len(self.ev_files) - 1
                )
                docs = [os.path.join(d["doc_table"], r) for r in acid.snapshot_files(d["doc_table"])]
                n, n_ids, foreign = con.execute(
                    f"""SELECT COUNT(*), COUNT(DISTINCT doc_id),
                               COUNT(*) FILTER (WHERE doc_id NOT IN
                                 (SELECT doc_id FROM read_parquet({src_docs})))
                        FROM read_parquet({files(docs)})"""
                ).fetchone()
                ok["dedup"] = n > 0 and n == n_ids and foreign == 0
                d["doc_rows"] = n
            except Exception:  # noqa: BLE001 — a broken table fails its pass
                traceback.print_exc()
            verdict[p] = ok
        # operations are recorded pass by pass, in order
        per_pass = len(ops) // max(1, len(self.passes))
        for k, rec in enumerate(ops):
            p = k // per_pass
            if "error" in rec:
                rec["ok"] = False
            elif rec["kind"] == "read":
                i = int(rec["name"].split("-")[1])
                rec["ok"] = rec["out"].num_rows == sum(
                    f["rows"] for f in self.ev_files[: i + 1])
            elif rec["kind"] == "scan":
                tbl, pred = rec.pop("out")
                full = next(
                    r["out"] for r in ops[k:] if r["kind"] == "read" and "out" in r
                )
                where = " AND ".join(f"{c} {o} {v}" for c, o, v in pred)
                con.register("__full", full)
                want = row_hash(con.execute(
                    f"SELECT * FROM __full WHERE {where}").fetch_arrow_table())
                con.unregister("__full")
                rec["ok"] = row_hash(tbl) == want and want[0] > 0
            elif rec["kind"] in verdict[p]:
                rec["ok"] = verdict[p][rec["kind"]]
            else:
                rec["ok"] = True
        for rec in ops:
            rec.pop("out", None)
        fed = sum(f["rows"] for f in self.doc_files)
        self.survivors = [d.get("doc_rows", 0) / fed for d in self.passes]

    def layer_metrics(self, spans: list[dict], start: float, end: float,
                      n_pass: int) -> dict:
        ev = [p for p in self.progress if start <= p["start"] <= end and p["sink"] == "ev"]
        add = sum(b.get("addBatch", 0) for p in ev for b in p["batches"]) / 1000
        trig = sum(b.get("triggerExecution", 0) for p in ev for b in p["batches"]) / 1000
        dd = [p["s"] for p in self.progress if start <= p["start"] <= end and p["sink"] == "do"]
        pr = [(r, n) for t, r, n in self.pruning if start <= t <= end]
        return {
            "stream.batches": sum(len(p["batches"]) for p in ev) / n_pass,
            "stream.add_batch_s": add / n_pass,
            "stream.trigger_overhead_s": (trig - add) / n_pass,
            "stream.start_overhead_s": (sum(p["s"] for p in ev) - trig) / n_pass,
            "acid.files_live": statistics.mean(n for _, n in pr) if pr else 0,
            "acid.files_opened_ratio": statistics.mean(r for r, _ in pr) if pr else 0,
            "dedup.batch_s": sum(dd) / n_pass,
            "dedup.survivor_ratio": statistics.median(self.survivors[1:]),
        }


WORKLOADS = {w.name: w for w in (LakeBatch, IngestRead)}
