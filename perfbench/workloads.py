"""The three workloads: inputs, one timed operation, its check, and
the traced per-layer ledger.

Every call into the program goes through the public functions of
``plans.session``, ``sources.io``, ``job``, ``udfs``, ``core`` and
``queries``; spans sit around those calls, here, not in the program.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import duckdb
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import check
import gen
from ocr_spark import job
from ocr_spark.core import extract_turn, sniff_kind
from ocr_spark.core.html_main import extract_html
from ocr_spark.core.pdf_layout import extract_pdf_like
from ocr_spark.core.plain import extract_plain
from ocr_spark.queries import ORACLE_SQL, SPARK_QUERIES
from ocr_spark.sources.io import load_table, read_input
from ocr_spark.udfs import extract_batch

KINDS = ("html", "pdf_like", "plain")
QUERIES = (
    "q1_pricing_summary", "q3_top_orders", "q5_region_revenue", "mode_event_type",
    "minhash_lsh", "simhash_docs", "knn_topk", "quality_score_docs", "multimodal_features",
)
QUERY_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events", "documents", "embeddings")
LEDGER_REPS = 2
_CORE_EXTRACTORS = {"html": extract_html, "pdf_like": extract_pdf_like, "plain": extract_plain}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def noop(df) -> None:
    """Materialize a DataFrame without a sink cost (a count would let
    Catalyst prune the plan)."""
    df.write.format("noop").mode("overwrite").save()


def _mb(path: str) -> float:
    if os.path.isfile(path):
        return os.path.getsize(path) / (1 << 20)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs) / (1 << 20)


class Extraction:
    """``job.run_extraction`` over one generated transcripts table."""

    ops = 1  # operations per timed run

    def __init__(self, name: str, shape: str, n_shards: int, checkpoint: bool):
        self.name, self.shape, self.n_shards, self.checkpoint = name, shape, n_shards, checkpoint
        self.out = self.ck = None
        self.layers_sum_names = ("sources.scan_s", "job.salt_s", "job.exchange_s",
                                 "job.extract_stage_s", "job.write_commit_s")

    # -- inputs and oracle (untimed) ---------------------------------------

    def prepare(self, work: str, seed: int, scale: float, golden_seed: int) -> list[str]:
        self.work = work
        table, gen_kinds, sizes = gen.transcripts(seed, self.shape, scale)
        self.input = os.path.join(work, "input.parquet")
        gen.write_transcripts(self.input, table)
        self.texts = table.column("text").to_pylist()
        self.turns = len(self.texts)
        conv, idx = table.column("conv_id").to_pylist(), table.column("turn_idx").to_pylist()
        t0 = time.perf_counter()
        self.results = [extract_turn(t) for t in self.texts]
        oracle_s = time.perf_counter() - t0
        self.expected = check.oracle_digest(conv, idx, self.results)
        self.golden_entry = None
        if seed == golden_seed and scale == 1.0:
            self.golden_entry = {"seed": seed, "rows": self.expected[0], "digest": self.expected[1]}
        q = statistics.quantiles(sizes, n=100, method="inclusive")
        mix = {k: gen_kinds.count(k) for k in sorted(set(gen_kinds))}
        text_mb = sum(len(t.encode("utf-8")) for t in self.texts) / (1 << 20)
        return [
            f"turns={self.turns} text_mb={text_mb:.2f} input_mb={_mb(self.input):.2f} "
            f"convs={len(sizes)} generated_kinds={mix}",
            f"conv_size p50={q[49]:.0f} p90={q[89]:.0f} p99={q[98]:.0f} max={max(sizes)} "
            f"convs_above_salt_threshold({job.DEFAULT_SALT_THRESHOLD})="
            f"{sum(s > job.DEFAULT_SALT_THRESHOLD for s in sizes)}",
            f"oracle: rows={self.expected[0]} digest={self.expected[1][:16]} "
            f"core_kinds={ {k: sum(r.kind == k for r in self.results) for k in KINDS} } "
            f"({oracle_s:.1f}s)",
        ]

    def check_golden(self) -> list[str] | None:
        """None when this seed and scale have no golden digest, else the
        problems found comparing the oracle against it."""
        if self.golden_entry is None:
            return None
        want = check.golden(self.name)
        if want != self.golden_entry:
            return [f"golden digest mismatch: oracle {self.golden_entry} vs committed {want}"]
        return []

    # -- one timed operation --------------------------------------------------

    def run_once(self, spark, tracer, i: int) -> None:
        self.out = os.path.join(self.work, f"out-{i}")
        self.ck = os.path.join(self.work, f"ck-{i}") if self.checkpoint else None
        job.run_extraction(spark, self.input, self.out, checkpoint_dir=self.ck, n_shards=self.n_shards)

    def verify(self) -> list[str]:
        got = check.output_digest(self.out)
        return [] if got == self.expected else [f"output {got} != oracle {self.expected}"]

    def discard(self) -> None:
        for d in (self.out, self.ck):
            if d:
                shutil.rmtree(d, ignore_errors=True)

    def throughput(self, wall_s: float) -> str:
        return f"turns_per_s {self.turns / wall_s:.1f} 1/s (turns={self.turns} / wall_s)"

    # -- traced per-layer ledger ----------------------------------------------

    def manifest(self, spark) -> dict[str, float]:
        rows = [r.asDict() for r in job.read_manifest(spark, self.out, dedupe=False).collect()]
        ok = [r for r in rows if r["status"] == "ok"]
        walls = sorted(r["wall_ms"] for r in ok)
        turns = [r["n_turns"] for r in ok]
        kept, dropped = sum(r["blocks_kept"] for r in ok), sum(r["blocks_dropped"] for r in ok)
        b_in, b_out = sum(r["bytes_in"] for r in ok), sum(r["bytes_out"] for r in ok)
        p50 = median(walls)
        self.num_partitions = max(
            sum(r["shard"] == s for r in ok) for s in range(self.n_shards)
        )
        return {
            "job.task_wall_ms.p50": p50,
            "job.task_wall_ms.max": float(max(walls)),
            "job.task_skew": max(walls) / p50 if p50 else 0.0,
            "job.task_turns.max_over_mean": max(turns) / (sum(turns) / len(turns)),
            "job.failed_attempts": float(len(rows) - len(ok)),
            "job.blocks_kept_ratio": kept / (kept + dropped) if kept + dropped else 0.0,
            "job.bytes_out_ratio": b_out / b_in if b_in else 0.0,
        }

    def _shards(self, spark):
        src = read_input(spark, self.input).select("conv_id", "turn_idx", "text")
        if self.n_shards == 1:
            return [src]
        # the shard predicate run_extraction applies to each shard
        return [src.filter(F.pmod(F.xxhash64("conv_id"), F.lit(self.n_shards)) == s)
                for s in range(self.n_shards)]

    def ledger(self, spark, sampler, tracer) -> dict[str, float]:
        """Prefix runs in one warm JVM: scan → +salt → +exchange →
        +extract stage (each into the noop sink), then the full job. A
        layer's self time is what its prefix adds to the one before."""
        p = self.num_partitions
        self.ledger_problems: list[str] = []
        steps = {
            "scan": lambda d: d,
            "salt": lambda d: job.with_skew_salt(d),
            "exchange": lambda d: job.with_skew_salt(d).repartition(p, "conv_id", "salt"),
            "extract": lambda d: job.extract_transcripts(
                job.with_skew_salt(d).repartition(p, "conv_id", "salt")),
        }
        wall = {k: [] for k in (*steps, "full")}
        cpu = {k: [] for k in steps}
        for rep in range(LEDGER_REPS):
            with tracer.span("ledger", run=f"ledger{rep}"):
                for step, build in steps.items():
                    with sampler.window() as u, tracer.span(f"ledger.{step}") as s:
                        for part in self._shards(spark):
                            noop(build(part))
                    wall[step].append(s.seconds)
                    cpu[step].append(u.cpu_s)
                with tracer.span("ledger.full") as s:
                    self.run_once(spark, tracer, 1000 + rep)
                wall["full"].append(s.seconds)
                self.ledger_problems += self.verify()
                self.discard()
        w = {k: median(v) for k, v in wall.items()}
        with tracer.span("job.salted_convs"):
            salted = sum(
                job.with_skew_salt(part).filter(F.col("salt") > 0).select("conv_id").distinct().count()
                for part in self._shards(spark)
            )
        extract_cpu = median(cpu["extract"]) - median(cpu["exchange"])
        core = self._core_pass(spark, tracer)
        out = {
            "sources.scan_s": w["scan"],
            "job.salt_s": w["salt"] - w["scan"],
            "job.exchange_s": w["exchange"] - w["salt"],
            "job.extract_stage_s": w["extract"] - w["exchange"],
            "job.write_commit_s": w["full"] - w["extract"],
            "job.salted_convs": float(salted),
            "udfs.overhead_ratio": extract_cpu / core["core.extract_turn_s"],
            **core,
        }
        return out

    def input_mb(self) -> float:
        return _mb(self.input)

    def _core_pass(self, spark, tracer) -> dict[str, float]:
        """Single-threaded, in this process, after the oracle pass warmed
        the core: ``extract_turn``, sniff, each kind's extractor over its
        turns, and ``udfs.extract_batch`` over Arrow-sized batches."""
        with tracer.span("core.extract_turn") as s:
            for t in self.texts:
                extract_turn(t)
        out = {"core.extract_turn_s": s.seconds}
        with tracer.span("core.sniff") as s:
            for t in self.texts:
                sniff_kind(t)
        out["core.sniff_s"] = s.seconds
        for kind, fn in _CORE_EXTRACTORS.items():
            mine = [t for t, r in zip(self.texts, self.results) if r.kind == kind]
            with tracer.span(f"core.{kind}") as s:
                for t in mine:
                    fn(t)
            kb = sum(len(t.encode("utf-8")) for t in mine) / 1024
            out[f"core.{kind}_s"] = s.seconds
            out[f"core.turns.{kind}"] = float(len(mine))
            out[f"core.us_per_kb.{kind}"] = s.seconds * 1e6 / kb if kb else 0.0
        batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        series = [pd.Series(self.texts[i : i + batch]) for i in range(0, self.turns, batch)]
        with tracer.span("udfs.extract_batch") as s:
            for b in series:
                extract_batch(b)
        out["udfs.extract_batch_s"] = s.seconds
        out["udfs.assembly_s"] = s.seconds - out["core.extract_turn_s"]
        return out


class QuerySuite:
    """The nine non-extraction headline queries, back to back."""

    name = "query_suite"
    turns = 0
    ops = len(QUERIES)
    num_partitions = None
    golden_entry = None
    ledger_problems: list[str] = []

    def prepare(self, work: str, seed: int, scale: float, golden_seed: int) -> list[str]:
        self.work = work
        self.dir = os.path.join(work, "tables")
        os.makedirs(self.dir)
        tables = gen.query_tables(seed, scale)
        for name, t in tables.items():
            pq.write_table(t, os.path.join(self.dir, f"{name}.parquet"))
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for name in tables:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{self.dir}/{name}.parquet'")
        t0 = time.perf_counter()
        self.expected = {}
        for q in QUERIES:
            rel = con.sql(ORACLE_SQL[q])
            self.expected[q] = (rel.columns, rel.fetchall())
        oracle_s = time.perf_counter() - t0
        con.close()
        self.query_s: dict[str, list[float]] = {q: [] for q in QUERIES}
        return [
            "rows " + " ".join(f"{k}={t.num_rows}" for k, t in tables.items())
            + f" input_mb={_mb(self.dir):.2f}",
            "oracle: duckdb rows " + " ".join(f"{q}={len(r[1])}" for q, r in self.expected.items())
            + f" ({oracle_s:.1f}s)",
        ]

    def check_golden(self) -> list[str] | None:
        return None

    def run_once(self, spark, tracer, i: int) -> None:
        """One pass over the queries. Each result is collected (at most a
        few hundred rows) so that every pass is checked against DuckDB."""
        self.problems = []
        for q in QUERIES:
            with tracer.span(f"operators.{q}") as s:
                df = SPARK_QUERIES[q](spark, self.dir)
                rows = [tuple(r) for r in df.collect()]
            if tracer.enabled:
                self.query_s[q].append(s.seconds)
            why = check.same_result(df.columns, rows, *self.expected[q])
            if why:
                self.problems.append(f"{q}: {why}")

    def verify(self) -> list[str]:
        return self.problems

    def discard(self) -> None:
        pass

    def throughput(self, wall_s: float) -> str | None:
        return None

    def manifest(self, spark) -> dict[str, float]:
        return {}

    def input_mb(self) -> float:
        return _mb(self.dir)

    def ledger(self, spark, sampler, tracer) -> dict[str, float]:
        floors = {}
        for t in QUERY_TABLES:
            reps = []
            for rep in range(LEDGER_REPS):
                with tracer.span(f"sources.scan_floor.{t}", run=f"ledger{rep}") as s:
                    noop(load_table(spark, self.dir, t))
                reps.append(s.seconds)
            floors[f"sources.scan_floor_s.{t}"] = median(reps)
        ops = {f"operators.{q}_s": median(v) for q, v in self.query_s.items()}
        return {"sources.scan_s": sum(floors.values()), **floors, **ops}

    @property
    def layers_sum_names(self):
        return tuple(f"operators.{q}_s" for q in QUERIES)
