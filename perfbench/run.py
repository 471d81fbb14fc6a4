#!/usr/bin/env python3
"""Catalog-refresh benchmark: one run of one workload.

    python3 perfbench/run.py --workload catalog_small --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates its inputs from the
seed, starts one Spark session on ``local[nproc]``, runs one untimed
(cold) iteration, then timed iterations back to back for ``--seconds``
(at least the workload's ``timed`` count), checks every iteration's
output, and prints one JSON object as the last
line of standard output. Everything it writes lives in a temporary
directory under ``.perfbench_work/`` in the checkout, removed on exit.

Workloads (one iteration each):

- ``catalog_small``: CSV sources -> model expansion ->
  ``CatalogJob.run(stage_dir=...)`` -> table search documents written as
  newline JSON, over a small seeded catalog.
- ``republish``: generation 2 of a staged catalog against generation 1:
  ``read_staged_graph`` -> ``diff_generations`` -> ``publish_nodes`` /
  ``publish_rels`` of the delta through a writer that appends to a file
  -> ``sweep`` of what generation 2 dropped.
- ``operators``: one pass over a fixed subset of ``oracle_suite.QUERIES``
  on seeded tables (``corpus_gen.py``), each result collected; the
  results are compared with the queries' DuckDB twins once per run,
  after the timed loop.

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (process start
to the first timed iteration, covering session start, input generation
and the cold iteration), ``iteration_s`` (median wall time of one timed
iteration) and ``output_mb`` (median bytes one iteration outputs: staged
CSV plus search JSON, what the publish writer received, or the canonical
query results).

``--trace 1`` runs each public call under its own Spark job group, writes
Spark's event log and reports per-layer metrics (see ``spans.py``).
"""

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import datetime  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import catalog_gen  # noqa: E402
import corpus_gen  # noqa: E402
import spans  # noqa: E402

# Expansions the refresh runs. A refresh that stages every expansion of
# example/sample_job.py runs ~880 Spark jobs (over two minutes on 4
# cores), longer than one benchmark run may take; with this one the whole
# flow runs ~60 jobs.
REFRESH_MODELS = ("column_usage",)
# CSVs the refresh reads with read_csv: the expansion's and the table
# search documents' inputs (tables and columns come through
# read_tables_with_columns)
REFRESH_SOURCES = ("sample_column_usage", "sample_table_last_updated",
                   "sample_schema_description", "sample_badges")
# Expansions whose staged shards the republish workload stages as its
# two generations: reader nodes and READ_BY relationships, both with a
# property, so the diff sees changed nodes and changed relationships.
# Every further shard adds read jobs to each iteration and to the cold
# one; with the users shards too, a run averaged ~56 s, more than the
# run budget leaves.
REPUBLISH_MODELS = ("column_usage",)
# Queries the operators workload runs: aggregation, window, as-of join,
# MinHash dedup and exact cosine top-k. The full 25-query headline list
# takes ~24 s a pass warm and ~46 s cold on 4 cores even on small tables,
# more than one run may spend.
OPERATOR_QUERIES = ("q1_pricing_summary", "windowed_event_agg",
                    "asof_view_before_purchase", "dedup_minhash_lsh",
                    "ann_brute_force_topk")
# ``timed``: the fewest timed iterations a run makes. A catalog_small
# refresh is 61 tiny jobs (~8.5 s) whose single-iteration time spread 0.24
# (IQR/median) over ten seeds on a shared 4-core host; the median of two
# halves the weight of one slow iteration for ~8.5 s more per run.
WORKLOADS = {
    "catalog_small": {"tables": 12, "timed": 2},
    "republish": {"tables": 25000, "timed": 1},
    "operators": {"timed": 1},
}
TAG, EPOCH_MS = "perfbench_gen1", 1_700_000_000_000
TAG2, EPOCH2_MS = "perfbench_gen2", 1_700_086_400_000
PUBLISH_BATCH, DELETE_BATCH = 500, 100
END_TO_END = ("setup_s", "iteration_s", "output_mb")
CALIB_ROWS = 60_000_000


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def provenance(seed: int) -> dict:
    """Commit (when the checkout is a git repository), a digest of the
    package source, seed, nproc and Spark version."""
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "amundsendatabuilder_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    import pyspark
    return {"commit": commit, "source_sha256": h.hexdigest()[:16],
            "seed": seed, "nproc": nproc(), "spark": pyspark.__version__}


def pin_environment(work: str, traced: bool) -> None:
    """Environment the package reads at import and the JVM reads at
    launch: shuffle width from nproc, Spark's scratch, temp files and the
    event log all inside ``work``."""
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark hands timestamps to Python in the process's local zone
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    # read by both JVMs spark-submit starts: its launcher and Spark's driver
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={work}/tmp "
                                       "-XX:-UsePerfData")
    args = []
    if traced:
        args = ["--conf spark.eventLog.enabled=true",
                f"--conf spark.eventLog.dir=file://{work}/events",
                "--conf spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    os.chdir(work)  # spark-warehouse/, metastore_db/ and derby.log land here


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if not f.startswith((".", "_")))


def read_parts(path: str) -> list[list[str]]:
    """Lines of each part file Spark wrote under ``path``."""
    parts = []
    for f in sorted(os.listdir(path)):
        if f.startswith("part-"):
            with open(os.path.join(path, f)) as fh:
                parts.append(fh.read().splitlines())
    return parts


def read_staged(stage_dir: str) -> dict:
    """shard -> (header, sorted data lines) of a staged graph; every part
    file of a shard starts with the shard's header."""
    out = {}
    for kind in ("nodes", "rels"):
        base = os.path.join(stage_dir, kind)
        for shard in sorted(os.listdir(base)) if os.path.isdir(base) else []:
            parts = [p for p in read_parts(os.path.join(base, shard)) if p]
            out[f"{kind}/{shard}"] = (
                parts[0][0] if parts else None,
                sorted(line for p in parts for line in p[1:]))
    return out


def check_refresh(summary: dict, out_dir: str, expect, expect_lines: dict):
    """Problems with one refresh's output (empty when correct), and a
    digest of everything it staged."""
    problems = []
    if summary.get("status") != "success":
        problems.append(f"status {summary.get('status')}")
    for kind in ("nodes", "rels"):
        if summary.get(kind) != expect.count(kind):
            problems.append(f"{kind} {summary.get(kind)} != "
                            f"{expect.count(kind)}")
    staged = read_staged(os.path.join(out_dir, "graph"))
    if set(staged) != set(expect_lines):
        problems.append(f"shards {sorted(set(staged) ^ set(expect_lines))}")
    for shard, (header, lines) in sorted(expect_lines.items()):
        got_header, got = staged.get(shard, (None, []))
        if got_header != header:
            problems.append(f"{shard} header {got_header!r}")
        if len(got) != len(lines):
            problems.append(f"{shard} rows {len(got)} != {len(lines)}")
        elif got != lines:
            problems.append(f"{shard} content differs")
    h = hashlib.sha256()
    for shard, (header, lines) in sorted(staged.items()):
        h.update("\n".join([shard, str(header)] + lines).encode())
    docs = sorted(line for p in read_parts(os.path.join(out_dir, "es"))
                  for line in p)
    problems += check_docs(docs, expect.docs)
    h.update("\n".join(docs).encode())
    return problems, h.hexdigest()


def check_docs(lines: list, expect_docs: dict) -> list:
    """Problems with the table search documents: one per table, each
    equal to the generator's document for that table."""
    problems = []
    if len(lines) != len(expect_docs):
        problems.append(f"table docs {len(lines)} != {len(expect_docs)}")
    docs = [json.loads(line) for line in lines]
    wrong = sum(1 for d in docs if expect_docs.get(d.get("key")) != d)
    if wrong:
        problems.append(f"{wrong} table docs differ from the expected")
    return problems


def canon(v) -> str:
    """One value as text that Spark and DuckDB results share (the form
    the repository's correctness gate compares)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return f"{int(v)}.0"
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def canonical_rows(cols: list, rows) -> list:
    """Sorted result lines, columns in name order, so results compare
    regardless of row and column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = "|".join(cols[i] for i in order)
    return [names] + sorted("|".join(canon(r[i]) for i in order)
                            for r in rows)


def digests(results: dict) -> dict:
    """query -> row count and sha256 of its canonical result lines."""
    return {q: (len(lines) - 1,
                hashlib.sha256("\n".join(lines).encode()).hexdigest())
            for q, lines in results.items()}


def differing(got: dict, want: dict) -> list:
    """Queries whose result digest in ``got`` is not the one in ``want``."""
    return sorted(q for q in want if got.get(q) != want[q])


class FileWriter:
    """Stand-in graph writer: every batch is appended as one JSON line to
    a per-process file, so the benchmark can check what was sent."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def _append(self, kind: str, mode: str, rows: list) -> None:
        line = json.dumps({"kind": kind, "mode": mode, "rows": rows},
                          sort_keys=True)
        path = os.path.join(self.out_dir, f"{os.getpid()}.jsonl")
        with open(path, "a") as f:
            f.write(line + "\n")

    def upsert(self, mode: str, rows: list) -> None:
        self._append("upsert", mode, rows)

    def delete(self, rows: list) -> None:
        self._append("delete", "", rows)


def _row_key(row: dict) -> tuple:
    if "START_KEY" in row:
        return (row["START_KEY"], row["END_KEY"], row["TYPE"])
    return (row["KEY"], row["LABEL"])


def collect_writes(out_dir: str) -> dict:
    """Batches the writer received: rows sent and keys deleted per kind,
    batch counts and sizes, and the bytes appended."""
    got = {"upsert": {"nodes": [], "rels": []},
           "delete": {"nodes": [], "rels": []},
           "batches": 0, "max_upsert": 0, "max_delete": 0,
           "bytes": dir_bytes(out_dir)}
    for f in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, f)) as fh:
            for line in fh:
                b = json.loads(line)
                for row in b["rows"]:
                    key = _row_key(row)
                    got[b["kind"]]["rels" if len(key) == 3 else "nodes"
                                   ].append(row if b["kind"] == "upsert"
                                            else key)
                size_key = f"max_{b['kind']}"
                got[size_key] = max(got[size_key], len(b["rows"]))
                got["batches"] += b["kind"] == "upsert"
    return got


def check_republish(got: dict, delta: dict, upserts: dict) -> list:
    """Problems with what the writer received: exactly the expected
    upserted rows (``upserts``: kind -> row key -> row), exactly the
    removed keys deleted, and no batch over its limit."""
    problems = []
    for kind in ("nodes", "rels"):
        rows = got["upsert"][kind]
        keys = sorted(_row_key(r) for r in rows)
        if keys != sorted(upserts[kind]):
            problems.append(f"{kind} upserts {len(keys)} != "
                            f"expected {len(upserts[kind])}")
        wrong = sum(1 for r in rows if upserts[kind].get(_row_key(r)) != r)
        if wrong:
            problems.append(f"{wrong} {kind} upserts differ from the "
                            "expected rows")
        if sorted(got["delete"][kind]) != delta[kind]["removed"]:
            problems.append(f"{kind} deletes {len(got['delete'][kind])} != "
                            f"expected {len(delta[kind]['removed'])}")
    if got["max_upsert"] > PUBLISH_BATCH:
        problems.append(f"upsert batch of {got['max_upsert']} rows")
    if got["max_delete"] > DELETE_BATCH:
        problems.append(f"delete batch of {got['max_delete']} rows")
    return problems


class Bench:
    """One workload in one Spark session."""

    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.traced = bool(args.trace)
        self.size = WORKLOADS[args.workload]

        t0 = time.perf_counter()
        from amundsendatabuilder_spark.session import get_spark
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        self.tr = spans.Tracer(self.spark.sparkContext, self.traced)
        if self.traced:
            self._trace_internals()
        self.digest = None

    def prepare(self) -> None:
        """Generate the workload's inputs and what its output must be."""
        self.inputs = os.path.join(self.work, "inputs")
        if self.args.workload == "operators":
            self.tables_in = corpus_gen.generate(self.inputs,
                                                 seed=self.args.seed)
            return
        models = (REPUBLISH_MODELS if self.args.workload == "republish"
                  else REFRESH_MODELS)
        self.expect = catalog_gen.generate(
            self.inputs, tables=self.size["tables"], seed=self.args.seed,
            sources=models)
        if self.args.workload == "republish":
            self._setup_republish()
        else:
            self.expect_lines = catalog_gen.staged_lines(
                self.expect.shards, TAG, EPOCH_MS)

    def _trace_internals(self) -> None:
        """Spans for the calls ``CatalogJob.run`` makes inside itself."""
        import amundsendatabuilder_spark.jobs as jobs_mod
        import amundsendatabuilder_spark.sinks.graph_csv as graph_csv
        jobs_mod.validate_graph = self.tr.wrap("models",
                                               jobs_mod.validate_graph)
        jobs_mod.stamp_publish_tag = self.tr.wrap("publish",
                                                  jobs_mod.stamp_publish_tag)
        graph_csv.write_graph = self.tr.wrap("graph_csv",
                                             graph_csv.write_graph)

    def call(self, layer: str, fn, *args, **kwargs):
        return self.tr.wrap(layer, fn)(*args, **kwargs)

    # --- catalog refresh ----------------------------------------------------
    def refresh(self, out_dir: str) -> dict:
        from amundsendatabuilder_spark.jobs import CatalogJob
        from amundsendatabuilder_spark.models import misc
        from amundsendatabuilder_spark.plans.search_documents import (
            build_table_documents)
        from amundsendatabuilder_spark.sinks.es_json import write_documents
        from amundsendatabuilder_spark.sources.csv_source import (
            read_csv, read_tables_with_columns)
        spark, fx = self.spark, self.inputs
        tables = self.call("sources", read_tables_with_columns, spark,
                           f"{fx}/sample_table.csv", f"{fx}/sample_col.csv")
        src = {name: self.call("sources", read_csv, spark, f"{fx}/{name}.csv",
                               catalog_gen.SCHEMAS[name])
               for name in REFRESH_SOURCES}
        job = CatalogJob(spark, publish_tag=TAG, epoch_ms=EPOCH_MS)
        job.add(self.call("models", misc.expand_column_usage,
                          src["sample_column_usage"]))
        summary = self.call("jobs", job.run,
                            stage_dir=os.path.join(out_dir, "graph"))
        table_docs = self.call(
            "search_documents", build_table_documents, tables,
            usage=src["sample_column_usage"],
            last_updated=src["sample_table_last_updated"],
            schema_descriptions=src["sample_schema_description"],
            badges=src["sample_badges"])
        self.call("es_json", write_documents, table_docs,
                  os.path.join(out_dir, "es"))
        return summary

    # --- republish ----------------------------------------------------------
    def _setup_republish(self) -> None:
        """Stage generation 1 and a churned generation 2 of the catalog in
        the staged-graph layout; the delta between them is the expected
        write set."""
        gen2, self.delta = catalog_gen.churn(self.expect.shards,
                                             seed=self.args.seed)
        self.gen1_dir = os.path.join(self.work, "gen1")
        self.gen2_dir = os.path.join(self.work, "gen2")
        catalog_gen.write_staged(self.expect.shards, self.gen1_dir, TAG,
                                 EPOCH_MS)
        catalog_gen.write_staged(gen2, self.gen2_dir, TAG2, EPOCH2_MS)
        # the rows the writer must receive: every added or changed row of
        # generation 2, as read back from its staged CSV
        rows2 = {k: v for shard in gen2.values() for k, v in shard.items()}
        self.upserts = {kind: {
            k: catalog_gen.staged_row(*rows2[k], TAG2, EPOCH2_MS)
            for k in self.delta[kind]["added"] + self.delta[kind]["changed"]}
            for kind in ("nodes", "rels")}
        self.rows_gen1 = sum(map(len, self.expect.shards.values()))
        self.rows_gen2 = sum(map(len, gen2.values()))

    def republish(self, out_dir: str) -> None:
        from pyspark.sql import functions as F

        from amundsendatabuilder_spark.plans.publish import (
            diff_generations, publish_nodes, publish_rels)
        from amundsendatabuilder_spark.plans.staleness import sweep
        from amundsendatabuilder_spark.sources.graph import read_staged_graph
        old = self.call("sources", read_staged_graph, self.spark,
                        self.gen1_dir)
        new = self.call("sources", read_staged_graph, self.spark,
                        self.gen2_dir)
        writer = FileWriter(out_dir)

        def comparable(df):
            # maps do not compare in Spark; the sorted entries without
            # the publish stamp do
            return df.withColumn("_p", F.array_sort(F.map_entries(
                F.map_filter("props", lambda k, _: ~k.isin(
                    *catalog_gen.STAMP_PROPS)))))

        for kind, keys, publish in (
                ("nodes", ("KEY", "LABEL"), publish_nodes),
                ("rels", ("START_KEY", "END_KEY", "TYPE"), publish_rels)):
            o, n = getattr(old, kind), getattr(new, kind)
            delta = self.call("publish", diff_generations, comparable(o),
                              comparable(n), list(keys), ["_p"])
            send = n.join(delta.where(F.col("change") != "removed"),
                          list(keys), "left_semi")
            self.call("publish", publish, send, writer.upsert, PUBLISH_BATCH)
            existing = n.unionByName(o.join(n, list(keys), "left_anti"))
            self.call("staleness", sweep, existing, TAG2, writer.delete,
                      key_cols=keys, batch_size=DELETE_BATCH)

    # --- operators ----------------------------------------------------------
    def corpus_pass(self) -> dict:
        """Run every operator query and collect its result: query ->
        (columns, rows)."""
        from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
        out = {}
        for q in OPERATOR_QUERIES:
            with self.tr.span("operators", q):
                df = QUERIES[q](self.spark, self.inputs)
                out[q] = (df.columns, df.collect())
        return out

    def oracle_results(self) -> dict:
        """query -> canonical result lines of its DuckDB twin over the same
        parquet files."""
        import duckdb

        from amundsendatabuilder_spark.plans.oracle_suite import ORACLES
        con = duckdb.connect()
        try:
            for name in self.tables_in:
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"'{self.inputs}/{name}.parquet'")
            out = {}
            for q in OPERATOR_QUERIES:
                rel = con.sql(ORACLES[q])
                out[q] = canonical_rows(list(rel.columns), rel.fetchall())
            return out
        finally:
            con.close()

    def check_oracles(self, records: list) -> None:
        """Fail every iteration whose results differ from the DuckDB
        twins'; run once, outside set-up and the timed loop."""
        want = digests(self.oracle_results())
        for i, rec in enumerate(records):
            bad = differing(rec.get("digests", {}), want)
            if bad:
                rec["problems"].append(f"differs from DuckDB: {bad}")
                print(f"# iteration {i}: differs from DuckDB: {bad}",
                      file=sys.stderr)

    # --- one iteration ------------------------------------------------------
    def iterate(self, i: int) -> dict:
        """Run and check iteration ``i``; its wall time excludes the check."""
        self.spark.catalog.clearCache()  # no reuse of the last iteration
        out_dir = os.path.join(self.work, f"out{i}")
        os.makedirs(out_dir)
        self.tr.iteration = i
        rec = {"start": time.time(), "problems": []}
        try:
            if self.args.workload == "republish":
                self.republish(out_dir)
                rec["wall"] = time.time() - rec["start"]
                self._checked_republish(out_dir, rec)
            elif self.args.workload == "operators":
                results = self.corpus_pass()
                rec["wall"] = time.time() - rec["start"]
                self._checked_corpus(results, rec)
            else:
                summary = self.refresh(out_dir)
                rec["wall"] = time.time() - rec["start"]
                self._checked_refresh(summary, out_dir, rec)
        except Exception:  # noqa: BLE001 — a failed iteration is counted
            traceback.print_exc()
            rec.setdefault("wall", time.time() - rec["start"])
            rec["problems"].append("raised")
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        for p in rec["problems"]:
            print(f"# iteration {i}: {p}", file=sys.stderr)
        return rec

    def _checked_refresh(self, summary: dict, out_dir: str, rec: dict):
        problems, digest = check_refresh(summary, out_dir, self.expect,
                                         self.expect_lines)
        if self.digest is not None and digest != self.digest:
            problems.append("staged digest differs from iteration 0")
        self.digest = self.digest or digest
        rec["problems"] += problems
        graph = os.path.join(out_dir, "graph")
        es = os.path.join(out_dir, "es")
        rec["bytes"] = dir_bytes(graph) + dir_bytes(es)
        shards = len(read_staged(graph))
        rec["extra"] = {
            "sources.rows_in": self.rows_in(),
            "models.nodes_out": summary.get("nodes", 0),
            "models.rels_out": summary.get("rels", 0),
            "graph_csv.shards": shards,
            "graph_csv.mb_written": dir_bytes(graph) / 1e6,
            "es_json.docs": self.expect.table_docs,
            "es_json.mb_written": dir_bytes(es) / 1e6,
        }

    def rows_in(self) -> int:
        return sum(self.expect.rows_in[n] for n in
                   ("sample_table", "sample_col", *REFRESH_SOURCES))

    def _checked_corpus(self, results: dict, rec: dict):
        results = {q: canonical_rows(*r) for q, r in results.items()}
        rec["digests"] = digests(results)
        if self.digest is not None and rec["digests"] != self.digest:
            rec["problems"].append("results differ from iteration 0")
        self.digest = self.digest or rec["digests"]
        rec["bytes"] = sum(len(line.encode()) + 1
                           for lines in results.values() for line in lines)

    def _checked_republish(self, out_dir: str, rec: dict):
        got = collect_writes(out_dir)
        rec["problems"] += check_republish(got, self.delta, self.upserts)
        rec["bytes"] = got["bytes"]
        sent = sum(len(v) for v in got["upsert"].values())
        rec["extra"] = {
            "sources.rows_in": self.rows_gen1 + self.rows_gen2,
            "publish.rows_sent": sent,
            "publish.batches": got["batches"],
            "publish.retries": 0,  # the stand-in writer never fails
            "publish.delta_ratio": sent / self.rows_gen2,
            "staleness.deleted": sum(len(v) for v in got["delete"].values()),
        }

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus this process's max RSS."""
        pid = self.spark.sparkContext._gateway.proc.pid
        jvm_kb = 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + own_kb) * 1024 / 1e6

    def calib_s(self) -> float:
        """The fixed calibration probe: a 32-way shuffle and two-level
        hash aggregate over 60M generated rows. Reported only."""
        from pyspark.sql import functions as F
        self.tr.iteration = -1  # outside every timed iteration
        with self.tr.span("session", "calibration_probe"):
            t0 = time.perf_counter()
            (self.spark.range(0, CALIB_ROWS, 1, 32)
             .select((F.col("id") % 1_000_003).alias("k"),
                     (F.col("id") % 97).alias("g"))
             .groupBy("k").agg(F.count("*").alias("c"), F.sum("g").alias("s"))
             .groupBy((F.col("k") % 1024).alias("b"))
             .agg(F.sum("c").alias("n"), F.sum("s").alias("t"))).count()
            return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark and wait for the driver JVM to exit."""
        gateway = self.spark.sparkContext._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


UNITS = {"_s": "s", "_mb": "MB", "mb_written": "MB", "_frac": "ratio",
         "_ratio": "ratio", "jobs_per_shard": "jobs/shard"}


def unit_of(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)),
                "count")


def per_layer_names() -> list[str]:
    names = [f"{layer}.{c}" for layer in spans.LAYERS for c in spans.COUNTERS]
    return names + [
        "sources.rows_in", "models.nodes_out", "models.rels_out",
        "graph_csv.shards", "graph_csv.mb_written", "graph_csv.jobs_per_shard",
        "es_json.docs", "es_json.mb_written",
        "publish.rows_sent", "publish.batches", "publish.retries",
        "publish.delta_ratio", "staleness.deleted",
        "scheduler.jobs", "scheduler.tasks", "scheduler.driver_gap_s",
        "scheduler.exec_busy_frac", "scheduler.iteration_s",
        "scheduler.span_cover_frac", "session.start_s", "session.calib_s",
        "session.peak_rss_mb"] + [
        f"operators.{q}.{c}" for q in OPERATOR_QUERIES
        for c in spans.CALL_COUNTERS]


def run(args, work: str) -> dict:
    pin_environment(work, bool(args.trace))
    bench = Bench(args, work)
    print(json.dumps({"provenance": provenance(args.seed),
                      "workload": args.workload}), flush=True)
    try:
        bench.prepare()
        records = [bench.iterate(0)]  # cold: part of set-up
        setup_s = time.monotonic() - T_START
        loop0 = time.monotonic()
        while (len(records) <= bench.size["timed"]
               or time.monotonic() - loop0 < args.seconds):
            records.append(bench.iterate(len(records)))
        timed = records[1:]
        metrics = {}
        if args.trace:
            peak_rss_mb = bench.peak_rss_mb()
            calib = bench.calib_s()
        else:
            metrics = {
                "setup_s": setup_s,
                "iteration_s": statistics.median(r["wall"] for r in timed),
                "output_mb": statistics.median(r.get("bytes", 0)
                                               for r in timed) / 1e6,
            }
        if args.workload == "operators":
            bench.check_oracles(records)
    finally:
        bench.stop()
    if args.trace:
        events = spans.read_event_log(os.path.join(work, "events"))
        windows = {i: (r["start"], r["start"] + r["wall"])
                   for i, r in enumerate(records) if i}
        layer = spans.layer_metrics(bench.tr.spans, events, windows, nproc())
        metrics = {name: 0 for name in per_layer_names()}
        metrics.update(layer)
        metrics.update(records[-1].get("extra", {}))
        metrics["session.start_s"] = bench.session_start_s
        metrics["session.calib_s"] = calib
        metrics["session.peak_rss_mb"] = peak_rss_mb
        shards = metrics["graph_csv.shards"]
        metrics["graph_csv.jobs_per_shard"] = (
            metrics["graph_csv.jobs"] / shards if shards else 0)
    print(json.dumps({"iteration_walls_s": [r["wall"] for r in records],
                      "timed": len(records) - 1}), flush=True)
    failed = sum(1 for r in records if r["problems"])
    return {"correct": failed == 0, "attempted": len(records),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)}
                        for k, v in metrics.items()}}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))


if __name__ == "__main__":
    main()
