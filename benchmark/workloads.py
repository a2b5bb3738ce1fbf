"""The benchmark workloads, each driving the program's public calls.

A workload prepares program-side state once (inside the set-up clock),
then runs identical passes. ``run_pass`` is the timed unit; checking
results and restoring state happen outside the clock. Every call into a
layer sits in a span named after that layer (a no-op with tracing off).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from fbs_data_pipelines_spark import pipeline
from fbs_data_pipelines_spark.caching import release_cache
from fbs_data_pipelines_spark.operators.audit import authlog_table
from fbs_data_pipelines_spark.operators.dedup import (
    dedup_exact,
    dup_clusters,
    minhash_lsh_pairs,
)
from fbs_data_pipelines_spark.pipeline import ETLPipeline
from fbs_data_pipelines_spark.sinks.writers import write_parquet
from fbs_data_pipelines_spark.sources.versioned import VersionedTable


def dir_files(path: str) -> dict[str, int]:
    """{relative file path: size} of every file under ``path``."""
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def _mismatch(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, expected {want!r}"]


@contextmanager
def _etl_spans(tracer, pipe):
    """With tracing on, put spans around the calls ``ETLPipeline.run``
    makes: the instance's own ``extract``, ``transform`` and ``load``,
    and the CSV opener ``extract`` calls per entity. The pass still runs
    ``pipe.run`` itself, traced or not."""
    if not tracer.enabled:
        yield
        return

    def wrap(name, fn):
        def call(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)
        return call

    pipe.extract = wrap("etl.extract", pipe.extract)
    pipe.transform = wrap("plans.build", pipe.transform)
    pipe.load = wrap("writers.write", pipe.load)
    opener = pipeline.read_dialected_csv
    pipeline.read_dialected_csv = wrap("csv.open", opener)
    try:
        yield
    finally:
        pipeline.read_dialected_csv = opener


class Workload:
    """Defaults for the hooks a workload may leave out."""

    def prepare(self, tracer) -> None:
        """Program-side preparation, inside the set-up clock."""

    def save_state(self, tracer) -> None:
        """Benchmark-side bookkeeping after preparation, off the clock."""

    def check_pass(self, result: dict) -> list[str]:
        return []

    def check_state(self) -> list[str]:
        return []

    def reset(self) -> None:
        """Restore the state the next pass starts from, off the clock."""

    def after_traced_pass(self, tracer) -> dict:
        """Traced-only measurements taken after the pass clock stops."""
        return {}


class EtlNightly(Workload):
    """EP1: newest dirty CSV per entity → creditos/radicados transforms →
    parquet load, over a layered ``raw/`` + ``modeled/`` folder."""

    LAYERS = ("raw", "modeled")

    def __init__(self, spark, data_dir: str, work_dir: str, truth: dict):
        self.spark = spark
        self.root = os.path.join(data_dir, "etl")
        self.out = os.path.join(work_dir, "etl_out")
        self.truth = truth
        self.run_date = dt.date.fromisoformat(truth["run_date"])
        self.input_rows = truth["input_rows"]

    def run_pass(self, tracer) -> dict:
        pipe = self._pipe = ETLPipeline(self.spark, self.root, run_date=self.run_date)
        with _etl_spans(tracer, pipe):
            loaded = pipe.run(self.LAYERS, self.out)
        return {"loaded": loaded, "counts": {}}

    def after_traced_pass(self, tracer) -> dict:
        """Extract → transform alone, run into Spark's noop sink."""
        with tracer.span("plans.transform"):
            for df in self._pipe.output.values():
                df.write.format("noop").mode("overwrite").save()
        return {"writers.output_bytes": sum(dir_files(self.out).values())}

    def check_pass(self, result: dict) -> list[str]:
        # the pipeline logs a failed extract or transform and goes on
        # with the other tables, so a missing table is how a failure shows
        loaded = sorted(f"{layer}_{entity}" for layer, entity in result["loaded"])
        return _mismatch("loaded tables", loaded, sorted(self.truth["tables"]))

    def check_state(self) -> list[str]:
        """Row counts and checksums of all four loaded tables."""
        errs = []
        for table, t in self.truth["tables"].items():
            df = self.spark.read.parquet(os.path.join(self.out, table))
            nulls = lambda c: F.sum(F.col(c).isNull().cast("long"))  # noqa: E731
            aggs = {"rows": F.count(F.lit(1))}
            if table.endswith("creditos"):
                aggs["obs_nulls"] = nulls("Observaciones")
                aggs["email_nulls"] = nulls("E Mail")
            if table == "raw_creditos":
                aggs["monto_cents"] = F.sum(F.round(F.col("Monto") * 100).cast("long"))
                aggs["tasa_nulls"] = nulls("TasaInterés")
                for key, col in (
                    ("giro", "tiempo_solicitud_giro"),
                    ("inicio", "tiempo_solicitud_inicio"),
                    ("legalizacion", "tiempo_solicitud_legalizacion"),
                    ("espera", "tiempo_de_espera"),
                ):
                    aggs[f"{key}_nulls"] = nulls(col)
                    aggs[f"{key}_sum"] = F.coalesce(F.sum(col), F.lit(0))
            if table == "raw_radicados":
                aggs["grupo_nulls"] = nulls("grupo_destino")
                aggs["gauegi"] = F.sum((F.col("cod_grupo_destino") == "GAUEGI").cast("long"))
                aggs["fecha_nulls"] = nulls("Fecha Radicacion")
            if table.endswith("radicados"):
                aggs["radicado_sum"] = F.sum(F.col("Radicado").cast("long"))
            if table == "modeled_radicados":
                aggs["rpta_nulls"] = nulls("Rpta")
            row = df.agg(*[a.alias(k) for k, a in aggs.items()]).first()
            for k in aggs:
                errs += _mismatch(f"{table}.{k}", row[k], t[k])
        return errs


class SnapshotMerge(Workload):
    """EP2: audit the day's raw snapshot against the published bucketed
    ``VersionedTable``, merge the day's delta, read yesterday's version,
    retain only the new one, then serve point lookups."""

    LOOKUPS_PER_PASS = 3
    KEEP_VERSIONS = 1
    RUN_TS = dt.datetime(2024, 2, 1, 3, 0)

    def __init__(self, spark, data_dir: str, work_dir: str, truth: dict):
        self.spark = spark
        self.src = os.path.join(data_dir, "merge")
        self.table = os.path.join(work_dir, "published")
        self.pristine = os.path.join(work_dir, "published_v1")
        self.truth = truth
        self.input_rows = truth["input_rows"]
        self.passes = 0
        self.delta_alone_bytes = None

    def _read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.src, f"{name}.parquet"))

    def prepare(self, tracer) -> None:
        """Publish v1, the table as of yesterday."""
        self.vt = VersionedTable(self.spark, self.table, id_col="id")
        self.vt.commit(self._read("base"))

    def save_state(self, tracer) -> None:
        """Keep a copy of v1: every pass starts from it, so row count and
        version depth are the same in every pass."""
        shutil.copytree(self.table, self.pristine)
        if tracer.enabled:
            alone = os.path.join(os.path.dirname(self.table), "delta_alone")
            write_parquet(self._read("delta"), alone)
            self.delta_alone_bytes = sum(dir_files(alone).values())

    def run_pass(self, tracer) -> dict:
        vt, n = self.vt, self.LOOKUPS_PER_PASS
        pool = self.truth["lookups"]
        start = (self.passes * n) % len(pool)
        batch = (pool + pool)[start:start + n]
        self.passes += 1
        with tracer.span("audit.authlog"):
            log = authlog_table(
                self._read("raw"), vt.read(), log_root="nightly", id_col="id",
                target_cols=self.truth["audit_cols"], run_id="bench",
                run_ts=self.RUN_TS,
            ).collect()
        before = dir_files(self.table) if tracer.enabled else None
        with tracer.span("versioned.merge"):
            version = vt.merge(self._read("delta"))
        counts = {"audit.log_rows": len(log)}
        if tracer.enabled:
            after = dir_files(self.table)
            added = {k: v for k, v in after.items() if k not in before}
            counts["versioned.files_written"] = len(added)
            counts["versioned.bytes_written"] = sum(added.values())
            counts["versioned.write_amp"] = sum(added.values()) / self.delta_alone_bytes
        with tracer.span("versioned.read"):
            prev_rows = vt.read(version=version - 1).count()
        with tracer.span("versioned.vacuum"):
            vt.vacuum(keep_last=self.KEEP_VERSIONS)
        lookups, found = [], []
        for key, want in batch:
            with tracer.span("versioned.lookup"):
                t = time.perf_counter()
                rows = vt.lookup(key).collect()
                lookups.append((time.perf_counter() - t) * 1000.0)
            found.append((key, want, [r.asDict() for r in rows]))
        return {"counts": counts, "lookup_ms": lookups, "lookups": found,
                "prev_rows": prev_rows}

    def check_pass(self, result: dict) -> list[str]:
        errs = _mismatch("audit log rows", result["counts"]["audit.log_rows"],
                         self.truth["audit_rows"])
        errs += _mismatch("time-travel rows", result["prev_rows"],
                          self.truth["published_rows"])
        for key, want, rows in result["lookups"]:
            errs += _mismatch(f"lookup {key}", rows, [want])
        return errs

    def check_state(self) -> list[str]:
        return _mismatch("merged rows", self.vt.read().count(), self.truth["merged_rows"])

    def after_traced_pass(self, tracer) -> dict:
        key = self.truth["lookups"][0][0]
        return {"versioned.lookup_files": len(self.vt.lookup(key).inputFiles())}

    def reset(self) -> None:
        shutil.rmtree(self.table)
        shutil.copytree(self.pristine, self.table)


class CorpusDedup(Workload):
    """Exact dedup, MinHash-LSH near-duplicate pairs, connected clusters."""

    def __init__(self, spark, data_dir: str, work_dir: str, truth: dict):
        self.spark = spark
        self.path = os.path.join(data_dir, "dedup", "docs.parquet")
        self.truth = truth
        self.input_rows = truth["input_rows"]

    def run_pass(self, tracer) -> dict:
        t = self.truth
        docs = self.spark.read.parquet(self.path)
        with tracer.span("dedup.exact"):
            keep = dedup_exact(docs, "doc_id", ["text"]).select("doc_id")
            kept = docs.join(keep, "doc_id", "left_semi").persist()
            survivors = kept.count()
        with tracer.span("dedup.minhash"):
            found = minhash_lsh_pairs(
                kept, "doc_id", "text", num_hashes=t["num_hashes"],
                bands=t["bands"], threshold=t["threshold"],
            )
            pairs = found.persist()
            pair_rows = pairs.collect()
            release_cache(found)
        with tracer.span("dedup.clusters"):
            labels = dup_clusters(pairs).collect()
        pairs.unpersist()
        kept.unpersist()
        return {"survivors": survivors, "pairs": pair_rows, "labels": labels,
                "counts": {"dedup.pairs": len(pair_rows)}}

    def check_pass(self, result: dict) -> list[str]:
        t = self.truth
        errs = _mismatch("exact-dedup survivors", result["survivors"], t["survivors"])
        got = sorted([r.id_a, r.id_b, r.jaccard] for r in result["pairs"])
        want = sorted(t["pairs"])
        if [p[:2] for p in got] != [p[:2] for p in want]:
            errs.append(f"near-duplicate pairs: got {len(got)}, planted {len(want)}")
        elif any(abs(a[2] - b[2]) > 1e-9 for a, b in zip(got, want)):
            errs.append("near-duplicate pairs: Jaccard values differ from planted")
        clusters: dict = {}
        for r in result["labels"]:
            clusters.setdefault(r.cluster_id, []).append(r.id)
        got_c = sorted(sorted(m) for m in clusters.values())
        if got_c != sorted(t["clusters"]):
            errs.append(f"clusters: got {len(got_c)}, planted {len(t['clusters'])}")
        return errs


class Nightly(Workload):
    """The nightly batch job: EP1 (``EtlNightly``), then EP2
    (``SnapshotMerge``), each on its own inputs and checked against its
    own truth. One pass runs both, so one Spark session and one cold
    pass serve both halves."""

    def __init__(self, spark, data_dir: str, work_dir: str, truth: dict):
        self.etl = EtlNightly(spark, data_dir, work_dir, truth["etl"])
        self.merge = SnapshotMerge(spark, data_dir, work_dir, truth["merge"])
        self.input_rows = truth["input_rows"]

    def prepare(self, tracer) -> None:
        self.merge.prepare(tracer)

    def save_state(self, tracer) -> None:
        self.merge.save_state(tracer)

    def run_pass(self, tracer) -> dict:
        etl = self.etl.run_pass(tracer)
        merge = self.merge.run_pass(tracer)
        merge["counts"].update(etl["counts"])
        return dict(merge, loaded=etl["loaded"])

    def check_pass(self, result: dict) -> list[str]:
        return self.etl.check_pass(result) + self.merge.check_pass(result)

    def check_state(self) -> list[str]:
        return self.etl.check_state() + self.merge.check_state()

    def reset(self) -> None:
        self.merge.reset()

    def after_traced_pass(self, tracer) -> dict:
        out: dict = {}
        for part in (self.etl, self.merge):
            out.update(part.after_traced_pass(tracer))
        return out


WORKLOADS = {
    "nightly": Nightly,
    "corpus_dedup": CorpusDedup,
}
