"""The benchmark workloads.  Each calls only the package's public functions,
wraps every call into a layer in a ``Tracer`` span (and so in its own Spark
job group), and checks its outputs outside the timed region.

A workload object has:
  setup()          stage the seeded inputs, build what the operations read,
                   and run one unmeasured warm operation
  op(i)            operation ``i`` of the closed loop; returns its wall (s)
  extra()          traced runs only: layer probes that are not operations
  check()          verify every output; returns (attempted, failed)
  layers(stats)    per-layer metrics, given the parsed event log
"""

from __future__ import annotations

import dataclasses
import os
import time
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

import eventlog
import inputs
from harness import Tracer, median

from tika_xapian_spark.functions import tokenizer
from tika_xapian_spark.operators.extract import extract_pages, parse_page
from tika_xapian_spark.operators.index import (
    assemble_fields,
    explode_fused_carrier,
    extract_index_carrier,
)
from tika_xapian_spark.plans import doc_queries, oracles
from tika_xapian_spark.plans import query_compiler as qc
from tika_xapian_spark.sources.pages import PAGES_SCHEMA, gen_row

INGEST_PAGES = 4000
INGEST_WARM_PASSES = 8  # the JVM's CPU per pass falls over the first 8-10 passes
KEYSTROKE_DOCS = 3000  # sf0.1 has 5,000; see the README for why fewer
TOP_K = 100
# the sf0.01 shape of the test tables
CURATE_DOCS = 500
CURATE_EMBEDDINGS = 500
CURATE_ORDERS = 15000
CURATE_LEAVES = [
    "dedup_containment_pairs",
    "dedup_substring_spans",
    "gopher_repetition",
    "embedding_semdedup",
    "tpch_waiting_suppliers",
]
UPSERT_PAGES = 512
UPSERT_BUCKETS = 16
UPSERT_BATCH = 8
UPSERT_BATCHES = 2
SAMPLE = 64


def stage_pages(spark, lo: int, n: int, path: str):
    """Write rows ``[lo, lo + n)`` of the synthetic pages table to parquet —
    ``synth_pages`` over a shifted row-id window — and read it back."""
    cols = PAGES_SCHEMA.fieldNames()

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([gen_row(int(i)) for i in pdf["id"]])[cols]

    spark.range(lo, lo + n, numPartitions=4).mapInPandas(
        gen, PAGES_SCHEMA
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def duckdb_over(table_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(table_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(table_dir, f)
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


class Workload:
    # a run measures at least this many operations, so that its metrics
    # always see the whole operation mix
    min_ops = 1

    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.detail: dict = {}

    def span(self, name: str, group: str):
        return self.tracer.span(name, group)

    def extra(self) -> None:
        pass

    def measured(self, walls: list[float]) -> list[float]:
        """The operation walls the run's wall percentiles are taken over."""
        return walls

    def units(self, values: list[float]) -> list[float]:
        """Per-operation values grouped into the units a run's cost metric
        is the median of: here, each operation."""
        return list(values)


# ---------------------------------------------------------------- ingest


class Ingest(Workload):
    """One operation: the fused extract -> index write of the staged pages,
    ``explode_fused_carrier(extract_index_carrier(pages)).write``."""

    def setup(self) -> None:
        self.lo, self.n = inputs.page_window(self.seed, INGEST_PAGES)
        with self.span("ingest.stage", "stage"):
            self.pages = stage_pages(
                self.spark, self.lo, self.n, os.path.join(self.work, "pages")
            )
        self.passes: list[dict] = []
        self.upsert: Upsert | None = None
        for w in range(INGEST_WARM_PASSES):
            self.op(-1 - w)

    def op(self, i: int) -> float:
        t0 = time.perf_counter()
        with self.span("index.carrier_build", f"ingest{i}.build"):
            obs = Observation(f"ingest{i}")
            carrier = extract_index_carrier(self.pages).observe(
                obs, F.sum((F.col("status") != "ok").cast("long")).alias("q")
            )
            writer = explode_fused_carrier(carrier).write.mode("overwrite")
        with self.span("index.write", f"ingest{i}.write"):
            writer.parquet(os.path.join(self.work, "index_out"))
        wall = time.perf_counter() - t0
        self.passes.append({"i": i, "quarantined": obs.get["q"], "wall": wall})
        return wall

    def extra(self) -> None:
        self.upsert = Upsert(self)
        self.upsert.run()

    def check(self) -> tuple[int, int]:
        """Every pass quarantines exactly the 1/8 error case, and extracted
        body bytes equal the generator's expected bytes on a seeded sample
        of urls (one more check)."""
        failed = sum(p["quarantined"] != self.n // 8 for p in self.passes)
        ids = [self.lo + (self.seed * 7919 + 131 * j) % self.n for j in range(SAMPLE)]
        exp = {r["url"]: r for r in map(gen_row, ids)}
        pdf = pd.DataFrame([{c: r[c] for c in PAGES_SCHEMA.fieldNames()} for r in exp.values()])
        got = {
            r.url: r
            for r in extract_pages(self.spark.createDataFrame(pdf, PAGES_SCHEMA)).collect()
        }
        bad = [
            u for u, e in exp.items()
            if u not in got
            or got[u].status != e["exp_status"]
            or (e["exp_status"] == "ok" and bytes(got[u].body_bytes) != e["exp_body_bytes"])
        ]
        self.detail["extract_sample_mismatches"] = len(bad)
        measured = [p["wall"] for p in self.passes if p["i"] >= 0]
        self.detail["ingest_docs_per_s"] = self.n / median(measured)
        attempted, failed = len(self.passes) + 1, failed + bool(bad)
        if self.upsert is not None:
            attempted += UPSERT_BATCHES
            failed += self.upsert.failed
        return attempted, failed

    def driver_side(self) -> dict:
        """Per-doc driver-side timings of the two per-row cores of the UDF on
        a seeded sample: page extraction, then field tokenization."""
        rows = [gen_row(self.lo + j) for j in range(SAMPLE * 4)]
        t0 = time.perf_counter()
        parsed = [parse_page(r["url"], r["html"]) for r in rows]
        t1 = time.perf_counter()
        fields = [
            assemble_fields(d["author"], d["date"], d["filename"], d["full_path"],
                            d["title"], d["subtitle"], d["tags"], d["body"])
            for d in parsed if d["status"] == "ok"
        ]
        t2 = time.perf_counter()
        for f in fields:
            tokenizer.index_document(f)
        t3 = time.perf_counter()
        return {
            "extract.parse_page_us": 1e6 * (t1 - t0) / len(rows),
            "tokenizer.index_document_us": 1e6 * (t3 - t2) / len(fields),
        }

    def layers(self, stats) -> dict:
        measured = [p for p in self.passes if p["i"] >= 0]
        per = [eventlog.total(stats, f"ingest{p['i']}.") for p in measured]
        out = self.driver_side()
        out.update(
            {
                "index.carrier_build_s": median(
                    self.tracer.walls("index.carrier_build")[INGEST_WARM_PASSES:]),
                "index.write_s": median(self.tracer.walls("index.write")[INGEST_WARM_PASSES:]),
                "index.tasks": median(w.tasks for w in per),
                "index.task_run_s": median(w.task_run_ms / 1e3 for w in per),
                "index.task_cpu_s": median(w.task_cpu_ns / 1e9 for w in per),
                "index.gc_s": median(w.gc_ms / 1e3 for w in per),
                "index.python_bytes_in": median(w.python_bytes_in for w in per),
                "index.python_bytes_out": median(w.python_bytes_out for w in per),
                "index.output_bytes_per_doc": median(w.output_bytes / self.n for w in per),
                "index.quarantined_docs": median(p["quarantined"] for p in measured),
            }
        )
        if self.upsert is not None:
            out.update(self.upsert.layers(stats))
        return out


class Upsert:
    """Small re-index writes through ``streaming.resume``: set up a
    16-bucket resumable index over a seeded page window, then send
    ``upsert_postings`` batches of edited pages (the same urls with a
    seeded edit word appended).  After each batch the edit words must be
    findable for exactly the edited urls, and the postings count must be
    the base count plus two terms (raw and Z-stemmed) per edited url."""

    def __init__(self, ingest: Ingest):
        self.w = ingest
        self.walls: list[float] = []
        self.rewritten: list[int] = []
        self.failed = 0

    def run(self) -> None:
        from tika_xapian_spark.streaming import resume

        w, spark = self.w, self.w.spark
        lo, n = inputs.page_window(w.seed + 1, UPSERT_PAGES)
        out_dir = os.path.join(w.work, "resumable")
        pages = stage_pages(spark, lo, n, os.path.join(w.work, "upsert_pages"))
        with w.span("resume.index", "up.setup"):
            resume.index_resumable(spark, pages, out_dir, UPSERT_BUCKETS)
        base = resume.read_postings(spark, out_dir).count()
        edited: dict[str, str] = {}
        for b in range(UPSERT_BATCHES):
            ids = inputs.upsert_ids(w.seed, b, lo, n, UPSERT_BATCH)
            words = inputs.edit_words(w.seed, b, UPSERT_BATCH)
            rows = []
            for i, word in zip(ids, words):
                r = {c: v for c, v in gen_row(i).items() if c in PAGES_SCHEMA.fieldNames()}
                r["html"] += word.encode() + b"\n"
                r["text"] = r["html"].decode()
                rows.append(r)
                edited[r["url"]] = word
            batch = spark.createDataFrame(pd.DataFrame(rows), PAGES_SCHEMA)
            t0 = time.perf_counter()
            with w.span("resume.upsert", f"up.{b}."):
                res = resume.upsert_postings(spark, out_dir, batch, UPSERT_BUCKETS)
            self.walls.append(time.perf_counter() - t0)
            self.rewritten.append(len(res["rewritten_buckets"]))
            post = resume.read_postings(spark, out_dir)
            found = {
                (r.doc, r.term)
                for r in post.filter(F.col("term").isin(sorted(set(edited.values()))))
                .select("doc", "term").collect()
            }
            ok = found == set(edited.items())
            ok &= post.count() == base + 2 * len(edited)
            self.failed += not ok
        w.detail["upsert_batch_walls_s"] = self.walls

    def layers(self, stats) -> dict:
        per = [eventlog.total(stats, f"up.{b}.") for b in range(UPSERT_BATCHES)]
        return {
            "resume.batch_s": median(self.walls),
            "resume.buckets_rewritten": median(self.rewritten),
            "resume.bytes_rewritten_per_changed_doc": median(
                p.output_bytes / UPSERT_BATCH for p in per),
            "resume.jobs_per_batch": median(p.jobs for p in per),
            "resume.extract_passes_per_batch": median(p.python_stages for p in per),
            "resume.task_run_s": median(p.task_run_ms / 1e3 for p in per),
        }


# -------------------------------------------------------------- keystroke


def score_micro(score: float) -> int:
    """``round(score * 1e6)`` half-up on the decimal form of the double —
    what ``F.round`` and DuckDB's ``round`` give the oracle side."""
    return int(Decimal(repr(score * 1_000_000)).quantize(Decimal(1), ROUND_HALF_UP))


def query_shape(node):
    """The compiled query with its words taken out: two requests of one
    shape differ only in the words a plan could take as parameters.  A
    partial or wildcard term keeps its prefix length, since prefixes of
    different lengths expand to different term sets."""
    if isinstance(node, (list, tuple)):
        return tuple(query_shape(x) for x in node)
    if not dataclasses.is_dataclass(node):
        return node
    out = [type(node).__name__]
    for f in dataclasses.fields(node):
        v = getattr(node, f.name)
        if f.name == "words":
            v = len(v)
        elif f.name in ("word", "pattern"):
            v = len(v) if type(node).__name__ in ("PartialTerm", "WildcardTerm") else "?"
        out.append(query_shape(v))
    return tuple(out)


class Keystroke(Workload):
    """A closed-loop TUI session: one client, the next request only after
    the reply, against the cached ``documents`` index.  One operation is
    one request: ``query_compiler.search`` (plan build), forcing the
    physical plan, then collecting the top-k page."""

    @property
    def min_ops(self) -> int:
        """Two blocks, so that a run averages two seeded word sets and the
        host's speed over twice as long; a traced run, which reports no
        end-to-end metric, needs every shape once and must end in 180 s."""
        return inputs.BLOCK if self.tracer.traced else 2 * inputs.BLOCK

    def setup(self) -> None:
        tables = {"documents": inputs.documents_table(self.seed, KEYSTROKE_DOCS, oracles.VOCAB)}
        with self.span("keystroke.stage", "stage"):
            self.sf = inputs.write_tables(os.path.join(self.work, "tables"), tables)
        with self.span("search.index", "index"):
            self.idx = doc_queries.get_index(self.spark, self.sf)
        self.reqs = inputs.keystroke_session(self.seed, oracles.VOCAB, 40)
        self.done: list[dict] = []
        self.curate: Curate | None = None
        warm = inputs.keystroke_session(self.seed + 1, oracles.VOCAB, 1)[:2]
        for j, r in enumerate(warm):
            self._request(r, f"warm{j}")

    def _request(self, r: inputs.Request, tag: str) -> dict:
        """One request as the client sees it: ``wall`` runs from the call
        to the result page, and the spans inside it time each layer."""
        rec: dict = {"req": r, "tag": tag}
        if self.tracer.traced:
            t = time.perf_counter()
            qc.compile_query(r.query, r.partial)
            rec["compile"] = time.perf_counter() - t
        start = time.perf_counter()
        with self.span("search.build", f"{tag}.build") as s_build:
            df = qc.search(self.idx, r.query, k=TOP_K, partial=r.partial)
        with self.span("spark.plan", f"{tag}.plan") as s_plan:
            df._jdf.queryExecution().executedPlan()
        with self.span("search.exec", f"{tag}.exec") as s_exec:
            rows = df.collect()
        rec["rows"] = [(r_.doc, score_micro(r_.score)) for r_ in rows]
        rec["wall"] = time.perf_counter() - start
        rec.update(build=s_build.wall, plan=s_plan.wall, exec=s_exec.wall)
        return rec

    def op(self, i: int) -> float:
        rec = self._request(self.reqs[i % len(self.reqs)], f"ks{i}")
        self.done.append(rec)
        return rec["wall"]

    def measured(self, walls: list[float]) -> list[float]:
        """The complete session blocks only: the shapes differ in cost by
        up to 3x, so a part block would make the median depend on how many
        requests the window held."""
        return walls[: len(walls) // inputs.BLOCK * inputs.BLOCK]

    def units(self, values: list[float]) -> list[float]:
        """The per-request mean of each complete session block, so every
        shape weighs in and a part block does not."""
        n = inputs.BLOCK
        return [sum(values[i:i + n]) / n for i in range(0, len(values) // n * n, n)]

    def extra(self) -> None:
        """Traced runs also run the curate leaves once (set-up with its warm
        pass, then one measured pass), so their layers are measured too."""
        self.curate = Curate(self.spark, self.tracer, os.path.join(self.work, "curate"), self.seed)
        self.curate.setup()
        self.curate.op(0)

    def check(self) -> tuple[int, int]:
        """Each distinct query string against its DuckDB oracle function.  The
        oracle lists every match; the page must hold exactly the top-k
        scores, each with the oracle's score for that doc."""
        con = duckdb_over(self.sf)
        expected: dict[str, dict] = {}
        failed = 0
        for rec in self.done:
            r = rec["req"]
            if r.query not in expected:
                sql = getattr(oracles, r.oracle)(*r.args, k=10**9)
                expected[r.query] = dict(con.execute(sql).fetchall())
            exp = expected[r.query]
            top = sorted(exp.values(), reverse=True)[:TOP_K]
            got = rec["rows"]
            ok = sorted((m for _, m in got), reverse=True) == top
            ok &= all(exp.get(d) == m for d, m in got)
            failed += not ok
        con.close()
        seen, repeats = set(), 0
        for rec in self.done:
            shape = query_shape(qc.compile_query(rec["req"].query, rec["req"].partial))
            repeats += shape in seen
            seen.add(shape)
        # a property of the request list and the run length, which no
        # program change moves: the reuse a plan cache could have
        self.detail["repeat_shape_share"] = repeats / max(1, len(self.done))
        self.detail["distinct_queries"] = len(expected)
        if self.curate is None:
            return len(self.done), failed
        c_attempted, c_failed = self.curate.check()
        self.detail.update(self.curate.detail)
        return len(self.done) + c_attempted, failed + c_failed

    def layers(self, stats) -> dict:
        parts = []
        for rec in self.done:
            b = stats.get(f"{rec['tag']}.build", eventlog.GroupStats())
            e = stats.get(f"{rec['tag']}.exec", eventlog.GroupStats())
            p = stats.get(f"{rec['tag']}.plan", eventlog.GroupStats())
            parts.append((rec, b, e, p))
        out = self.curate.layers(stats) if self.curate is not None else {}
        return out | {
            "query_compiler.compile_s": median(r["compile"] for r, *_ in parts),
            "search.build_s": median(r["build"] - r["compile"] for r, *_ in parts),
            "search.build_jobs": median(b.jobs for _, b, _, _ in parts),
            "spark.plan_s": median(r["plan"] for r, *_ in parts),
            "spark.plan_jobs": median(p.jobs for *_, p in parts),
            "search.exec_s": median(r["exec"] for r, *_ in parts),
            "search.exec_jobs": median(e.jobs for _, _, e, _ in parts),
            "search.stages": median(b.stages + e.stages + p.stages for _, b, e, p in parts),
            "search.tasks": median(b.tasks + e.tasks + p.tasks for _, b, e, p in parts),
            "search.shuffle_bytes": median(
                b.shuffle_write_bytes + e.shuffle_write_bytes + p.shuffle_write_bytes
                for _, b, e, p in parts),
            "keystroke.wall_s": median(r["wall"] for r, *_ in parts),
            # the client's wall outside the three layer spans: turning the
            # rows into the result page and setting the job groups
            "keystroke.unaccounted_s": median(
                r["wall"] - r["build"] - r["plan"] - r["exec"] for r, *_ in parts),
        }


# ----------------------------------------------------------------- curate


def canon_rows(rows) -> list[tuple]:
    return sorted(tuple(str(x) for x in r) for r in rows)


class Curate(Workload):
    """One operation: one pass over the fixed list of curation/analytics
    leaves (the registered queries of the driver contract), each run to
    completion.  The warm pass in setup fills the module-level caches."""

    def setup(self) -> None:
        import __spark_entry__ as entry

        tables = {
            "documents": inputs.documents_table(self.seed, CURATE_DOCS, oracles.VOCAB),
            "embeddings": inputs.embeddings_table(self.seed, CURATE_EMBEDDINGS),
            **inputs.tpch_tables(self.seed, CURATE_ORDERS),
        }
        with self.span("curate.stage", "stage"):
            self.sf = inputs.write_tables(os.path.join(self.work, "tables"), tables)
        self.entry = entry
        queries = entry.queries()
        self.leaves = {name: queries[name] for name in CURATE_LEAVES}
        self.results: list[dict[str, list]] = []
        self.walls: list[dict[str, float]] = []
        self.op(-1)

    def op(self, i: int) -> float:
        rows, walls = {}, {}
        t0 = time.perf_counter()
        for name, fn in self.leaves.items():
            t = time.perf_counter()
            with self.span(f"{name}", f"cu{i}.{name}"):
                rows[name] = fn(self.spark, self.sf).collect()
            walls[name] = time.perf_counter() - t
        wall = time.perf_counter() - t0
        self.results.append(rows)
        self.walls.append(walls)
        self.persisted_rdds = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        return wall

    def check(self) -> tuple[int, int]:
        """Every leaf of every pass against ``__spark_entry__.oracle_sql()``;
        a pass fails if any of its leaves does."""
        osql = self.entry.oracle_sql()
        con = duckdb_over(self.sf)
        exp = {n: canon_rows(con.execute(osql[n]).fetchall()) for n in self.leaves}
        con.close()
        bad = [[n for n in self.leaves if canon_rows(p[n]) != exp[n]] for p in self.results]
        self.detail["leaf_mismatches"] = sorted({n for b in bad for n in b})
        self.detail["leaf_wall_s"] = {
            n: median(w[n] for w in self.walls[1:]) for n in self.leaves
        }
        return len(self.results), sum(bool(b) for b in bad)

    def layers(self, stats) -> dict:
        out: dict = {}
        n_pass = len(self.results) - 1
        for name in self.leaves:
            per = [stats.get(f"cu{i}.{name}", eventlog.GroupStats()) for i in range(n_pass)]
            out[f"{name}.wall_s"] = median(w[name] for w in self.walls[1:])
            out[f"{name}.jobs"] = median(p.jobs for p in per)
            out[f"{name}.shuffle_write_bytes"] = median(p.shuffle_write_bytes for p in per)
            out[f"{name}.spill_bytes"] = median(p.spill_bytes for p in per)
            out[f"{name}.task_run_s"] = median(p.task_run_ms / 1e3 for p in per)
        out["curate.persisted_rdds"] = self.persisted_rdds
        return out


WORKLOADS = {"ingest": Ingest, "keystroke": Keystroke, "curate": Curate}
