"""The traced run: each layer's public function applied to the
materialized output of the layer before it.

Inside a span the layer's output goes to Spark's ``noop`` sink, so the
span holds only that layer's busy time. Materializing the output for
the next layer (cache + count) and the counts happen between spans.

Span tree of the layer chain (all under the root span ``chain``)::

    readers               read_transcripts + gate_well_formed
    extract               extract_triples
    canonicalize          annotate_canonical
    pipeline.stage_write  build_triples (writes the stage table eagerly)
    link                  event_entities + link_entities
      link.plan           constructing the link DataFrames
    enrich                enrich_triples
    materialize
      materialize.dedupe  finalize_triples
      materialize.write   write_graph_table

``build_triples`` runs extraction and canonicalization fused into its
stage write, so ``extract`` and ``canonicalize`` are diagnostic spans
whose work ``pipeline.stage_write`` repeats; :data:`CHAIN_COVERAGE`
lists the spans that partition the pipeline's work. The link and enrich
spans read the stage table that ``pipeline.stage_write`` wrote, pruned
by section as ``build_triples`` prunes it.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import io
import os
import re
import statistics
import time
from collections import Counter

import pyarrow.dataset as ds
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from glean_cetaf_rdfs_spark.operators.canonicalize import (
    annotate_canonical,
    split_canonical,
)
from glean_cetaf_rdfs_spark.operators.enrich import enrich_triples
from glean_cetaf_rdfs_spark.operators.extract import extract_triples
from glean_cetaf_rdfs_spark.operators.link import (
    event_entities,
    link_entities,
    mentions_of,
)
from glean_cetaf_rdfs_spark.operators.materialize import (
    finalize_triples,
    write_graph_table,
)
from glean_cetaf_rdfs_spark.plans.pipeline import build_triples
from glean_cetaf_rdfs_spark.session import app_scratch_path
from glean_cetaf_rdfs_spark.sources.readers import gate_well_formed, read_transcripts
from glean_cetaf_rdfs_spark.streaming.checkpoint import compact_buckets, run_resumable

from check import dir_bytes
from tracing import Tracer

CHAIN_COVERAGE = ("readers", "pipeline.stage_write", "link", "link.plan",
                  "enrich", "materialize.dedupe", "materialize.write")
CHECKPOINT_COVERAGE = ("checkpoint.crash", "checkpoint.resume", "checkpoint.compact")
SPO = ["subj", "pred", "obj", "obj_is_iri"]


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _materialize(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.cache()
    return df, df.count()


def plan_shape(df: DataFrame) -> dict[str, int]:
    """Node counts of ``df``'s formatted physical plan (the initial
    adaptive plan, so they are exact and repeatable)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    tree = buf.getvalue().split("\n\n", 1)[0]
    nodes = Counter(m.group(1).strip() for m in
                    re.finditer(r"^[\s:+\-|]*([A-Za-z][\w ]*?) \(\d+\)$", tree, re.M))
    return {
        "stage_scans": nodes["Scan parquet"],
        "shuffle_exchanges": nodes["Exchange"],
        "broadcast_exchanges": nodes["BroadcastExchange"],
    }


def _newest_stage_dir(spark) -> str:
    """The stage table the last ``build_triples`` call wrote."""
    builds = glob.glob(os.path.join(app_scratch_path(spark, "kg_canon"), "b*"))
    return max(builds, key=lambda p: int(os.path.basename(p)[1:]))


def layer_chain(spark, tracer: Tracer, in_path: str, out_path: str) -> dict[str, float]:
    """Run the layer chain once; returns its counts and plan shape."""
    m: dict[str, float] = {}
    with tracer.span("readers"):
        source = read_transcripts(spark, in_path)
        passed, quarantined = gate_well_formed(source)
        _noop(passed)
    m["readers.rows_in"] = source.count()
    m["readers.quarantined"] = quarantined.count()
    turns, n_turns = _materialize(passed)

    with tracer.span("extract"):
        _noop(extract_triples(turns))
    raw, n_raw = _materialize(extract_triples(turns))
    m["extract.rows_out"] = n_raw
    m["extract.triples_per_turn"] = n_raw / n_turns

    with tracer.span("canonicalize"):
        _noop(annotate_canonical(raw))
    raw.unpersist()

    with tracer.span("pipeline.stage_write"):
        built = build_triples(turns)
    stage_dir = _newest_stage_dir(spark)
    m["pipeline.stage_bytes"] = dir_bytes(stage_dir)
    for k, v in plan_shape(built).items():
        m[f"pipeline.{k}"] = v

    # The branch inputs, read from the stage table as build_triples reads
    # them: the entity branches from sect='m', sameAs from sect!='o'.
    stage = spark.read.parquet(stage_dir)
    spo = split_canonical(stage)[0].select(*SPO)
    ent_spo = split_canonical(stage.filter(F.col("sect") == "m"))[0].select(*SPO)
    sameas = split_canonical(stage.filter(F.col("sect") != "o"))[1].select(*SPO)
    m["canonicalize.dropped"] = stage.count() - spo.count()
    m["canonicalize.sameas_rows"] = sameas.count()

    with tracer.span("link"):
        with tracer.span("link.plan"):
            links = link_entities(ent_spo)
            events = event_entities(ent_spo)
        _noop(links)
        _noop(events)
    links, n_links = _materialize(links)
    events, _ = _materialize(events)
    m["link.hit_ratio"] = n_links / mentions_of(ent_spo).count()

    with tracer.span("enrich"):
        _noop(enrich_triples(ent_spo, links, events))
    generated, n_generated = _materialize(enrich_triples(ent_spo, links, events))
    m["enrich.rows_out"] = n_generated

    union, n_union = _materialize(spo.unionByName(sameas).unionByName(generated))
    with tracer.span("materialize"):
        with tracer.span("materialize.dedupe"):
            _noop(finalize_triples(union))
        final, n_final = _materialize(finalize_triples(union))
        with tracer.span("materialize.write"):
            write_graph_table(final, out_path)
    m["materialize.dedupe_ratio"] = n_final / n_union
    for df in (turns, links, events, generated, union, final):
        df.unpersist()
    return m


INJECTED = "injected failure"


def crash(spark, in_path: str, bucketed: str, ckpt: str, n_buckets: int,
          fail_after: int) -> None:
    """First leg of the crash/resume cycle: ``run_resumable`` with its
    crash hook, which must raise after ``fail_after`` buckets."""
    try:
        run_resumable(spark, read_transcripts(spark, in_path), bucketed, ckpt,
                      "bench", n_buckets=n_buckets, fail_after_bucket=fail_after)
    except RuntimeError as e:
        if INJECTED not in str(e):
            raise
    else:
        raise RuntimeError("run_resumable did not raise the injected crash")


def resume(spark, in_path: str, bucketed: str, ckpt: str, n_buckets: int) -> None:
    run_resumable(spark, read_transcripts(spark, in_path), bucketed, ckpt,
                  "bench", n_buckets=n_buckets)


def _done_stamps(ckpt_path: str) -> list[float]:
    """Completion times (epoch seconds) of the buckets marked done."""
    rows = ds.dataset(ckpt_path, format="parquet").to_table().to_pylist()
    return sorted(r["updated_ts"].replace(tzinfo=dt.timezone.utc).timestamp()
                  for r in rows if r["run_id"] == "bench" and r["status"] == "done"
                  and r["stage"] == "materialize")


def checkpoint_layer(spark, tracer: Tracer, in_path: str, bucketed: str,
                     ckpt: str, final_path: str, n_buckets: int,
                     fail_after: int) -> dict[str, float]:
    """Crash, resume and compact under spans. Per-bucket times come from
    the checkpoint table's own ``updated_ts`` (one row per finished
    bucket, stamped in UTC), since the buckets run inside one
    ``run_resumable`` call."""
    m: dict[str, float] = {}
    t_crash = time.time()
    with tracer.span("checkpoint.crash"):
        crash(spark, in_path, bucketed, ckpt, n_buckets, fail_after)
    n_before = len(_done_stamps(ckpt))
    t_resume = time.time()
    with tracer.span("checkpoint.resume"):
        resume(spark, in_path, bucketed, ckpt, n_buckets)
    stamps = _done_stamps(ckpt)
    m["checkpoint.redo_ratio"] = (len(stamps) - n_before) / (n_buckets - n_before)
    steps = []
    for t0, phase in ((t_crash, [t for t in stamps if t <= t_resume]),
                      (t_resume, [t for t in stamps if t > t_resume])):
        steps += [b - a for a, b in zip([t0] + phase[:-1], phase)]
    m["checkpoint.bucket_s"] = statistics.median(steps)

    with tracer.span("checkpoint.compact"):
        compact_buckets(spark, bucketed, final_path)
    m["checkpoint.dup_ratio"] = (ds.dataset(bucketed, format="parquet").count_rows()
                                 / ds.dataset(final_path, format="parquet").count_rows())
    return m
