"""The two workloads and the suite pass. Each exposes the same closed-loop
surface:

- ``prepare()``  untimed: generate (or reuse the per-seed cache of) inputs;
- ``land()``     timed as set-up: put the inputs where the pipeline reads them;
- ``before_op(i)`` untimed: stage what op ``i`` needs;
- ``op(i)``      timed: one operation through the public API;
- ``check(i)``   untimed: compare op ``i``'s outputs with the ground truth;
- ``layers(ops)`` per-layer metrics from the traced ops' spans.

Op 0 is the cold op of set-up; ops 1.. are the measured warm ops. A traced
run makes at least ``TRACE_OPS`` warm ops.
"""

from __future__ import annotations

import shutil
import statistics
from pathlib import Path

import gen

STAGES = ("raw_to_bronze", "bronze_to_silver", "silver_update", "silver_to_gold")

# One query per suite layer that the medallion workloads do not reach: JVM
# relational (tpch_q1), gold IVM, the Python/Arrow kernel boundary (PQ/IVFADC),
# a JVM text kernel (tf-idf) and a job-heavy entity-resolution funnel. The
# medallion spine and the streaming ledger are measured by the medallion
# workloads.
HEADLINE = (
    "tpch_q1", "gold_genre_revenue_ivm", "sim_pq_ivfadc", "text_tfidf_topk",
    "er_purged_recall",
)

# Wrapped public calls: (label, defining module, attribute, importing modules).
WRAPPED = (
    ("sources.read_multiline_json", "sources.batch", "read_multiline_json",
     ("plans.medallion", "streaming.incremental")),
    ("sources.read_parquet", "sources.batch", "read_parquet",
     ("plans.medallion", "streaming.incremental")),
    ("writers.write_partitioned", "operators.writers", "write_partitioned",
     ("plans.medallion", "streaming.incremental")),
    ("fsutil.rewrite_parquet", "fsutil", "rewrite_parquet", ()),
)


BATCH_KEYS = (("s", "s"), ("jobs", "count"), ("stages", "count"), ("cpu_ms", "ms"), ("shuffle_mb", "MB"))
INCR_KEYS = BATCH_KEYS[:4]
QUERY_KEYS = (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("cpu_ms", "ms"), ("run_ms", "ms"))


def layer_units() -> dict[str, str]:
    """Every per-layer metric, with its unit."""
    units = {"spark.persisted_rdds": "count", "q.persisted_rdds": "count"}
    for st in STAGES:
        units.update({f"batch.{st}.{k}": u for k, u in BATCH_KEYS})
        units.update({f"incr.{st}.{k}": u for k, u in INCR_KEYS})
    units.update({
        "batch.lake_bytes_per_raw_byte": "ratio", "incr.early_s": "s", "incr.late_s": "s",
        "incr.lake_files": "count", "incr.lake_bytes_per_raw_byte": "ratio",
    })
    for label, *_ in WRAPPED:
        units.update({f"{label}.s": "s", f"{label}.calls": "count"})
    for q in HEADLINE:
        units.update({f"q.{q}.{k}": u for k, u in QUERY_KEYS})
    return units


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _rows(path: Path, columns=None):
    import pyarrow.dataset as ds

    return ds.dataset(str(path), format="parquet", partitioning="hive").to_table(columns=columns)


def _tree_bytes(path: Path, suffix: str = "") -> tuple[int, int]:
    files = [p for p in path.rglob(f"*{suffix}") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def _per_op(spans, ops, name, key):
    """Median over the traced ops of ``key`` summed over spans called ``name``."""
    vals = []
    for op in ops:
        hits = [s for s in spans if s["run_id"] == op and s["name"] == name]
        if hits:
            vals.append(sum((s["end"] - s["start"]) if key == "s" else
                            1 if key == "calls" else s[key] for s in hits))
    return _median(vals)


def wrapper_layers(spans, ops) -> dict:
    out = {}
    for label, *_ in WRAPPED:
        out[f"{label}.s"] = (_per_op(spans, ops, label, "s"), "s")
        out[f"{label}.calls"] = (_per_op(spans, ops, label, "calls"), "count")
    return out


class _Medallion:
    """Shared by the batch and incremental workloads: the corpus and the lake
    checks."""

    prefix = ""
    N_FILES, PER_FILE = 8, 250
    TRACE_OPS = 3
    suite = None  # suite queries the traced run passes over after its own ops

    def __init__(self, bench):
        self.b = bench
        self.truth = gen.Truth()

    def prepare(self) -> None:
        self.files = gen.movie_files(self.b.seed, self.N_FILES, self.PER_FILE)
        self.corpus = self.b.cache / f"movies-{self.b.seed}"
        if not self.corpus.exists():
            tmp = self.b.root / "corpus"
            for k, f in enumerate(self.files):
                gen.write_movie_file(tmp / f"movies_{k:03d}.json", f)
            tmp.rename(self.corpus)

    def config(self, root: Path):
        from movie_genre_data_pipeline_spark.config import Clock, PipelineConfig

        return PipelineConfig(root=str(root), clock=Clock("2024-01-01 00:00:00"))

    def stages(self, pipeline) -> dict:
        counts = {}
        tr = self.b.tracer
        with tr.span(f"{self.prefix}.raw_to_bronze"):
            pipeline.raw_to_bronze()
        with tr.span(f"{self.prefix}.bronze_to_silver"):
            counts.update(pipeline.bronze_to_silver() or {})
        with tr.span(f"{self.prefix}.silver_update"):
            counts["repaired"] = pipeline.silver_update()
        with tr.span(f"{self.prefix}.silver_to_gold"):
            counts["gold_genres"] = pipeline.silver_to_gold()
        return counts

    def check_lake(self, cfg, counts: dict) -> list[str]:
        t = self.truth
        n, q = len(t.movies), t.quarantined
        gold = t.genre_movie_counts()
        errs = []
        expect = {"repaired": self.new_quarantined, "gold_genres": len(gold)}
        if "clean" in counts:
            expect.update(clean=n - q, quarantined=q, genres=len(t.genre_pairs))
        for k, v in expect.items():
            if counts.get(k) != v:
                errs.append(f"{k}: got {counts.get(k)}, expected {v}")
        tables = {
            "movie_silver": (Path(cfg.silver_path("movie")), n),
            "genres_silver": (Path(cfg.silver_path("genres")), len(t.genre_pairs)),
            "language_silver": (Path(cfg.silver_path("language")), len(t.languages)),
            "bronze": (Path(cfg.bronze_path), t.bronze_rows),
        }
        for name, (path, want) in tables.items():
            got = _rows(path).num_rows
            if got != want:
                errs.append(f"{name} rows: got {got}, expected {want}")
        genres = {r["Id"]: r["name"] for r in _rows(Path(cfg.silver_path("genres"))).to_pylist()}
        if genres != dict(t.genre_pairs):
            errs.append("genres_silver does not match the genre map")
        mart = _rows(Path(cfg.gold_path("genre_revenue")), ["genre_id", "n_movies"]).to_pylist()
        if {r["genre_id"]: r["n_movies"] for r in mart} != gold:
            errs.append("gold n_movies per genre differs from ground truth")
        return errs


class BatchMedallion(_Medallion):
    """One op: a warm MedallionPipeline run on a fresh lake over a fixed corpus.
    Its traced run also passes over the headline suite queries."""

    prefix = "batch"

    def __init__(self, bench):
        super().__init__(bench)
        self.suite = HeadlineQueries(bench)

    def prepare(self) -> None:
        super().prepare()
        for f in self.files:
            self.truth.add_file(f)
        self.new_quarantined = self.truth.quarantined
        self.raw_bytes = _tree_bytes(self.corpus)[1]

    def _lake(self, i: int) -> Path:
        return self.b.root / "lakes" / f"batch{i}"

    def land(self) -> None:
        self.before_op(0)

    def before_op(self, i: int) -> None:
        shutil.copytree(self.corpus, self._lake(i) / "raw")

    def op(self, i: int) -> None:
        from movie_genre_data_pipeline_spark.plans.medallion import MedallionPipeline

        self.cfg = self.config(self._lake(i))
        self.counts = self.stages(MedallionPipeline(self.b.spark, self.cfg))

    def check(self, i: int) -> list[str]:
        errs = self.check_lake(self.cfg, self.counts)
        statuses = set(_rows(Path(self.cfg.bronze_path), ["status"]).column("status").to_pylist())
        if statuses != {"loaded"}:
            errs.append(f"bronze statuses {sorted(statuses)}, expected only 'loaded'")
        lake = self._lake(i)
        self.lake_ratio = (_tree_bytes(lake)[1] - self.raw_bytes) / self.raw_bytes
        self.persisted = len(self.b.spark.sparkContext._jsc.getPersistentRDDs())
        shutil.rmtree(lake, ignore_errors=True)
        return errs

    def layers(self, spans, ops) -> dict:
        out = {}
        for st in STAGES:
            name = f"batch.{st}"
            for key, unit in BATCH_KEYS:
                out[f"{name}.{key}"] = (_per_op(spans, ops, name, key), unit)
        out["batch.lake_bytes_per_raw_byte"] = (self.lake_ratio, "ratio")
        out["spark.persisted_rdds"] = (self.persisted, "count")
        out.update(self.suite.layers(spans, self.suite.traced_ops))
        return out


class IncrementalMedallion(_Medallion):
    """One op: land one new file (a rename), then the four incremental stages
    on a lake that keeps growing from the batch corpus as its base. An
    increment is half the base, as in the 10k + 5k sizing the workload was
    drawn from, so the traced run's nine increments grow the lake about
    fivefold."""

    prefix = "incr"
    INC_RECORDS, RESEND = 1000, 50
    TRACE_OPS = 9

    def prepare(self) -> None:
        super().prepare()
        self.lake = self.b.root / "lakes" / "incr"
        self.incoming = self.b.root / "incoming"

    def land(self) -> None:
        shutil.copytree(self.corpus, self.lake / "raw")
        for f in self.files:
            self.truth.add_file(f)
        self.new_quarantined = self.truth.quarantined

    def before_op(self, i: int) -> None:
        if i == 0:
            return
        (inc,) = gen.movie_files(
            self.b.seed, 1, self.INC_RECORDS, first_id=1_000_000 * i,
            resend_from=[self.truth.movies[k] for k in sorted(self.truth.movies)],
            resend=self.RESEND,
        )
        self.pending = self.incoming / f"increment_{i:04d}.json"
        gen.write_movie_file(self.pending, inc)
        before = self.truth.quarantined
        self.truth.add_file(inc)
        self.new_quarantined = self.truth.quarantined - before

    def op(self, i: int) -> None:
        from movie_genre_data_pipeline_spark.streaming.incremental import (
            IncrementalMedallionPipeline,
        )

        if i:
            self.pending.rename(self.lake / "raw" / self.pending.name)
        self.cfg = self.config(self.lake)
        self.pipeline = IncrementalMedallionPipeline(self.b.spark, self.cfg)
        self.counts = self.stages(self.pipeline)

    def check(self, i: int) -> list[str]:
        errs = self.check_lake(self.cfg, self.counts)
        statuses = {r["status"]: r["count"] for r in
                    self.pipeline.current_status().groupBy("status").count().collect()}
        if statuses != {"loaded": len(self.truth.movies)}:
            errs.append(f"ledger statuses {statuses}, expected all {len(self.truth.movies)} loaded")
        self.lake_files, lake_bytes = _tree_bytes(self.lake, ".parquet")
        raw_bytes = _tree_bytes(self.lake / "raw")[1]
        self.lake_ratio = lake_bytes / raw_bytes
        self.persisted = len(self.b.spark.sparkContext._jsc.getPersistentRDDs())
        return errs

    def layers(self, spans, ops) -> dict:
        out = {}
        for st in STAGES:
            name = f"incr.{st}"
            for key, unit in INCR_KEYS:
                out[f"{name}.{key}"] = (_per_op(spans, ops, name, key), unit)
        # Lake growth: plain increments after the first (which still carries
        # JIT warm-up), early half against late half.
        grown = [dt for _, dt in self.b.plain_ops[1:]]
        half = len(grown) // 2
        out["incr.early_s"] = (_median(grown[:half]), "s")
        out["incr.late_s"] = (_median(grown[-half:] if half else []), "s")
        out["incr.lake_files"] = (self.lake_files, "count")
        out["incr.lake_bytes_per_raw_byte"] = (self.lake_ratio, "ratio")
        out["spark.persisted_rdds"] = (self.persisted, "count")
        return out


class HeadlineQueries:
    """One op: a pass over the headline suite queries (``fn()`` plus the noop
    sink) on read-only star-schema tables. Run in the batch workload's traced
    run, after the batch ops."""

    SF = 0.001
    TRACE_OPS = 3

    def __init__(self, bench):
        self.b = bench
        self.traced_ops: list[int] = []

    def prepare(self) -> None:
        from movie_genre_data_pipeline_spark.suite import all_queries

        self.tables = self.b.cache / f"tables-{self.b.seed}-sf{self.SF}"
        gen.write_tables(self.tables, self.b.seed, self.SF)
        specs = all_queries()
        self.specs = {q: specs[q] for q in HEADLINE}

    def before_op(self, i: int) -> None:
        pass

    def op(self, i: int) -> None:
        if i == 0:
            return self._checked_pass()
        tr, sf_dir = self.b.tracer, str(self.tables)
        for name, spec in self.specs.items():
            with tr.span(f"q.{name}.build"):
                df = spec.fn(self.b.spark, sf_dir)
            with tr.span(f"q.{name}.exec"):
                df.write.format("noop").mode("overwrite").save()

    def _checked_pass(self) -> None:
        """The cold pass: every query once through ``check_query`` against its
        DuckDB oracle."""
        verify = self.b.import_tool("verify_local")
        con = verify.make_duckdb(str(self.tables))
        self.errors = []
        for name, spec in self.specs.items():
            errs = verify.check_query(self.b.spark, con, name, spec, str(self.tables))
            self.errors += [f"{name}: {e}" for e in errs]

    def check(self, i: int) -> list[str]:
        self.persisted = len(self.b.spark.sparkContext._jsc.getPersistentRDDs())
        return self.errors if i == 0 else []

    def layers(self, spans, ops) -> dict:
        out = {"q.persisted_rdds": (self.persisted, "count")}
        for q in HEADLINE:
            b, e = f"q.{q}.build", f"q.{q}.exec"
            out[f"q.{q}.build_s"] = (_per_op(spans, ops, b, "s"), "s")
            out[f"q.{q}.exec_s"] = (_per_op(spans, ops, e, "s"), "s")
            for key, unit in (("jobs", "count"), ("cpu_ms", "ms"), ("run_ms", "ms")):
                out[f"q.{q}.{key}"] = (_per_op(spans, ops, b, key) + _per_op(spans, ops, e, key), unit)
        return out


WORKLOADS = {
    "batch_medallion": BatchMedallion,
    "incremental_medallion": IncrementalMedallion,
}
