"""The curation ingest layers, measured on ``kpi_stream`` under ``--trace 1``.

Two document batches from ``gen.ingest_batches`` go through
``streaming.ingest.full_ingest_writer``: quality gate, exact dedup,
fuzzy decontamination, drift, BM25, near-dup and count-min screens,
then a versioned publish.  The screens are timed from outside: each
screen factory is replaced, at module attribute level, by one whose
batch function runs inside a span, and so is the publish function.
The writer's own work between screens is the batch span's self time,
so the eight screen spans plus ``ingest.self_ms`` make up
``ingest.batch_ms``.

Output checks (each batch is one operation):

* the gate quarantines exactly the generator's short texts;
* exact dedup flags exactly the generator's later exact copies;
* every contamination flag has an exact word-3-gram Jaccard of at
  least the threshold against its benchmark document;
* the published latest version holds exactly the gated documents
  minus the exact duplicates minus the flagged ones.

LSH recall is reported as a count: the documents whose exact Jaccard
to some benchmark document reaches the threshold, and how many of
them were flagged.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import statistics

import pyarrow.parquet as pq

import gen
import measure as tr

THRESHOLD = 0.8
CHECKS = {"long_enough": "length(text) >= 60"}

_PKG = "projetbigdatastreaming_spark"
#: span name → (module, factory) of every screen the writer builds
SCREENS = {
    "gate": (f"{_PKG}.streaming.ingest", "quality_gate_writer"),
    "exact_dedup": (f"{_PKG}.streaming.curation", "exact_dedup_screen_writer"),
    "decontam": (f"{_PKG}.streaming.neardup", "benchmark_screen_writer"),
    "drift": (f"{_PKG}.streaming.curation", "drift_monitor_writer"),
    "bm25": (f"{_PKG}.streaming.curation", "bm25_screen_writer"),
    "neardup": (f"{_PKG}.streaming.ingest", "near_dup_batch_writer"),
    "cms": (f"{_PKG}.streaming.ingest", "cms_batch_writer"),
}
PUBLISH = (f"{_PKG}.sinks.versioned", "versioned_append_batch")
SPANS = tuple(SCREENS) + ("publish",)


@contextlib.contextmanager
def _traced_screens(tracer):
    """Swap every screen factory and the publish function for timed
    ones; the originals are put back on exit."""
    saved = []

    def timed(name, fn):
        def call(*args, **kwargs):
            with tracer.span(f"ingest.{name}"):
                return fn(*args, **kwargs)

        return call

    def timed_factory(name, factory):
        def build(*args, **kwargs):
            return timed(name, factory(*args, **kwargs))

        return build

    try:
        for name, (mod_name, attr) in SCREENS.items():
            mod = importlib.import_module(mod_name)
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, timed_factory(name, getattr(mod, attr)))
        mod = importlib.import_module(PUBLISH[0])
        saved.append((mod, PUBLISH[1], getattr(mod, PUBLISH[1])))
        setattr(mod, PUBLISH[1], timed("publish", getattr(mod, PUBLISH[1])))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def run(ctx) -> dict:
    """Run the two batches; returns ``{"attempted", "failed", "layers"}``."""
    from projetbigdatastreaming_spark.sinks.versioned import list_versions, read_version
    from projetbigdatastreaming_spark.streaming.curation import (
        build_bm25_stats,
        build_drift_reference,
    )
    from projetbigdatastreaming_spark.streaming.ingest import full_ingest_writer
    from projetbigdatastreaming_spark.streaming.monitoring import index_status
    from projetbigdatastreaming_spark.streaming.neardup import build_benchmark_index

    spark, root = ctx.spark, os.path.join(ctx.work, "ingest")
    d = {
        n: os.path.join(root, n)
        for n in ("good", "quarantine", "dedup", "dups", "bench", "contam", "drift_ref",
                  "drift", "bm25_ref", "bm25", "nd_index", "nd_flags", "cms", "table")
    }
    data = gen.ingest_batches(ctx.seed)
    paths = {}
    for name, table in [("reference", data["reference"]), ("benchmark", data["benchmark"])] + [
        (f"batch{b}", t) for b, t in enumerate(data["batches"])
    ]:
        paths[name] = os.path.join(root, "in", f"{name}.parquet")
        os.makedirs(os.path.dirname(paths[name]), exist_ok=True)
        pq.write_table(table, paths[name])

    ref = spark.read.parquet(paths["reference"])
    build_benchmark_index(spark, spark.read.parquet(paths["benchmark"]), d["bench"])
    build_drift_reference(ref, d["drift_ref"])
    build_bm25_stats(ref, d["bm25_ref"])

    tracer = ctx.tracer
    tracer.tags.update(phase="ingest", attempt=None)
    with _traced_screens(tracer), ctx.cache_watch():
        write = full_ingest_writer(
            checks=CHECKS,
            good_path=d["good"],
            quarantine_path=d["quarantine"],
            dedup_state_dir=d["dedup"],
            dups_dir=d["dups"],
            benchmark_index_dir=d["bench"],
            contam_flags_dir=d["contam"],
            drift_ref_dir=d["drift_ref"],
            drift_metric_dir=d["drift"],
            bm25_ref_dir=d["bm25_ref"],
            bm25_scores_dir=d["bm25"],
            neardup_index_dir=d["nd_index"],
            neardup_flags_dir=d["nd_flags"],
            cms_state_dir=d["cms"],
            table_dir=d["table"],
            neardup_threshold=THRESHOLD,
        )
        for b in range(gen.INGEST_BATCHES):
            df = spark.read.parquet(paths[f"batch{b}"])
            with tracer.span("ingest.batch", batch_id=b):
                write(df, b)

    failed, recall = _check(spark, d, data)
    published = read_version(spark, d["table"])
    admitted = published.count()
    status = index_status(spark, d["nd_index"]).collect()

    spans = [s for s in tracer.spans if s.get("phase") == "ingest"]
    own = tr.self_times(spans)

    def mean_ms(name, self_time=False):
        xs = [own[s["id"]] if self_time else s["end"] - s["start"]
              for s in spans if s["name"] == name]
        return 1000 * statistics.fmean(xs)

    rows_in = sum(t.num_rows for t in data["batches"])
    layers = {f"ingest.{n}_ms": mean_ms(f"ingest.{n}") for n in SPANS}
    layers.update(
        {
            "ingest.batch_ms": mean_ms("ingest.batch"),
            "ingest.self_ms": mean_ms("ingest.batch", self_time=True),
            "ingest.rows_in": rows_in,
            "ingest.dups": spark.read.parquet(d["dups"]).count(),
            "ingest.contaminated": spark.read.parquet(d["contam"])
            .select("doc_a").distinct().count(),
            "ingest.lsh_recalled": recall[0],
            "ingest.admitted": admitted,
            "ingest.admit_ratio": admitted / rows_in,
            "ingest.state_partitions": sum(r.n_batch_partitions for r in status),
            "ingest.index_rows": sum(r.n_rows for r in status),
            "publish.versions": len(list_versions(d["table"])),
            "publish.files": len(published.inputFiles()),
        }
    )
    ctx.note(ingest_failed=sorted(failed), ingest_contaminated_truth=recall[1])
    return {"attempted": gen.INGEST_BATCHES, "failed": len(failed), "layers": layers}


def _ids(spark, path: str) -> dict[int, set]:
    """Batch id → the doc ids in that batch's partition."""
    out: dict[int, set] = {}
    if os.path.isdir(path):
        for r in spark.read.parquet(path).select("doc_id", "batch_id").collect():
            out.setdefault(int(r[1]), set()).add(int(r[0]))
    return out


def _check(spark, d: dict, data: dict) -> tuple[set, tuple[int, int]]:
    """Batches whose screens or publish disagree with the ground
    truth, and ``(truly contaminated docs flagged, truly contaminated
    docs)``."""
    from projetbigdatastreaming_spark.sinks.versioned import read_version

    bench = dict(
        zip(data["benchmark"].column("doc_id").to_pylist(),
            data["benchmark"].column("text").to_pylist())
    )
    quarantined, dups = _ids(spark, d["quarantine"]), _ids(spark, d["dups"])
    flags: dict[int, set] = {}
    if os.path.isdir(d["contam"]):
        for r in spark.read.parquet(d["contam"]).collect():
            flags.setdefault(int(r.batch_id), set()).add((int(r.doc_a), int(r.doc_b)))
    published = {r[0] for r in read_version(spark, d["table"]).select("doc_id").collect()}
    failed, recalled, truly = set(), 0, 0
    for b, table in enumerate(data["batches"]):
        text = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
        truth = data["truth"][b]
        flagged = {a for a, _ in flags.get(b, ())}
        gated = set(text) - truth["short"]
        ok = quarantined.get(b, set()) == truth["short"]
        ok &= dups.get(b, set()) == truth["dups"]
        ok &= all(gen.jaccard(text[a], bench[x]) >= THRESHOLD for a, x in flags.get(b, ()))
        ok &= published & set(text) == gated - truth["dups"] - flagged
        if not ok:
            failed.add(b)
        for i in gated:
            if max(gen.jaccard(text[i], t) for t in bench.values()) >= THRESHOLD:
                truly += 1
                recalled += i in flagged
    return failed, (recalled, truly)
