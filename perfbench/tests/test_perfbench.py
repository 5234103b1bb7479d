"""Tests of the benchmark's own parts.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(HERE.parent), str(HERE)]

import check  # noqa: E402
import inputs  # noqa: E402
from tracing import Span, Tracer, attribute  # noqa: E402


@pytest.mark.parametrize("workload", ["oneshot_mixed", "oneshot_longtext"])
def test_generator_is_deterministic_per_seed(workload, tmp_path):
    a = inputs.make_input(workload, 7, 400)
    b = inputs.make_input(workload, 7, 400)
    other = inputs.make_input(workload, 8, 400)
    assert len(a) == 400
    assert a.equals(b)
    assert not a["conv_id"].equals(other["conv_id"])
    path = str(tmp_path / "t.parquet")
    inputs.write_parquet(a, path)
    assert pq.read_schema(path).field("ts").type == pa.timestamp("us", tz="UTC")
    assert pq.read_table(path).to_pandas()["text"].tolist() == a["text"].tolist()


def test_longtext_replaces_most_turns_with_mention_free_prose():
    mixed = inputs.make_input("oneshot_mixed", 3, 2000)
    long = inputs.make_input("oneshot_longtext", 3, 2000)
    assert long[["conv_id", "turn_idx", "role", "tool", "ts"]].equals(
        mixed[["conv_id", "turn_idx", "role", "tool", "ts"]])
    replaced = long["text"] != mixed["text"]
    assert 0.85 < replaced.mean() < 0.95
    assert not long.loc[replaced, "text"].str.contains(r"https?://|=|\"|<").any()
    s_mixed, s_long = inputs.input_stats(mixed), inputs.input_stats(long)
    assert s_long["url_turn_share"] < 0.2 < s_mixed["url_turn_share"]
    assert 1000 < (s_long["text_bytes"] / replaced.sum()) < 1400


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_span_self_time_subtracts_union_of_children():
    clock = FakeClock()
    labels = []
    t = Tracer(clock=clock, label=labels.append)
    with t.span("root"):
        clock.now = 1.0
        with t.span("a"):
            clock.now = 3.0
            with t.span("a.inner"):
                clock.now = 4.0
        clock.now = 6.0
        with t.span("b"):
            clock.now = 7.0
        clock.now = 10.0
    assert t.get("root").duration == 10.0
    assert t.self_time(t.get("root")) == 10.0 - 3.0 - 1.0
    assert t.self_time(t.get("a")) == 3.0 - 1.0
    assert t.self_time(t.get("a.inner")) == 1.0
    assert labels == ["root", "a", "a.inner", "a", "root", "b", "root", None]


def test_self_time_merges_overlapping_children():
    t = Tracer()
    t.spans = [Span("p", None, 0.0, 10.0), Span("c1", 0, 1.0, 5.0),
               Span("c2", 0, 4.0, 6.0), Span("c3", 0, 9.0, 12.0)]
    assert t.self_time(t.spans[0]) == 10.0 - 5.0 - 1.0


def test_probe_counters_are_span_deltas():
    box = {"n": 0.0}
    t = Tracer(probe=lambda: {"n": box["n"]})
    with t.span("s"):
        box["n"] = 2.5
    assert t.get("s").counters == {"n": 2.5}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from glean_cetaf_rdfs_spark.session import get_spark

    work = tmp_path_factory.mktemp("spark")
    (work / "eventlog").mkdir()
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_LOCAL_DIR", str(work))
        s = get_spark("perfbench-test", master="local[2]", extra_conf={
            "spark.driver.memory": "1g",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        })
        yield s, work / "eventlog"
        s.stop()


def test_event_log_attribution_on_a_tiny_run(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    session, log_dir = spark
    t = Tracer(label=session.sparkContext.setJobDescription)

    def plus_one(batches):
        for pdf in batches:
            yield pd.DataFrame({"id": pdf["id"] + 1})

    with t.span("tiny.python"):
        session.range(0, 5000, 1, 2).mapInPandas(plus_one, "id long") \
            .write.format("noop").mode("overwrite").save()
    with t.span("tiny.shuffle"):
        session.range(0, 5000, 1, 2).groupBy((F.col("id") % 7).alias("k")).count() \
            .write.format("noop").mode("overwrite").save()
    session.range(10).count()  # outside any span: not attributed

    by_span = attribute(str(log_dir))
    assert set(by_span) == {"tiny.python", "tiny.shuffle"}
    assert by_span["tiny.python"]["python_bytes"] > 5000 * 8
    assert by_span["tiny.python"]["shuffle_bytes"] == 0
    assert by_span["tiny.shuffle"]["shuffle_bytes"] > 0
    assert by_span["tiny.shuffle"]["python_bytes"] == 0
    assert all(v["cpu_s"] > 0 and v["tasks"] >= 2 for v in by_span.values())


def test_oracle_check_catches_a_planted_extra_triple(spark, tmp_path):
    from glean_cetaf_rdfs_spark.data.synthetic import transcripts_pdf
    from glean_cetaf_rdfs_spark.operators.materialize import write_graph_table
    from glean_cetaf_rdfs_spark.oracle import oracle_triples

    session, _ = spark
    oracle = oracle_triples(transcripts_pdf(5))
    schema = "graph string, subj string, pred string, obj string, obj_is_iri boolean"
    planted = ("http://planted.example", "http://planted.example/x",
               "http://purl.org/dc/terms/conformsTo", "http://planted.example/y", True)
    dropped = sorted(oracle)[0]
    cases = {
        "exact": (sorted(oracle), (0, 0, 0)),
        "extra": (sorted(oracle) + [planted], (1, 0, 0)),
        "missing": (sorted(oracle - {dropped}), (0, 1, 0)),
        "duplicate": (sorted(oracle) + [dropped], (0, 0, 1)),
    }
    for name, (rows, (extra, missing, dups)) in cases.items():
        path = str(tmp_path / name)
        write_graph_table(session.createDataFrame(rows, schema), path)
        res = check.check_table(path, check.oracle_table(oracle))
        assert (res.extra, res.missing, res.duplicate_rows) == (extra, missing, dups), name
        assert res.ok == (name == "exact")
        assert res.mismatch == extra + missing
        assert len(check.table_files(path)) >= 1


def test_layer_chain_writes_the_oracle_graph(spark, tmp_path):
    import layers
    from glean_cetaf_rdfs_spark.oracle import oracle_triples

    session, _ = spark
    pdf = inputs.make_input("oneshot_mixed", 3, 300)
    in_path, out = str(tmp_path / "in.parquet"), str(tmp_path / "graph")
    inputs.write_parquet(pdf, in_path)
    t = Tracer()
    counts = layers.layer_chain(session, t, in_path, out)
    assert check.check_table(out, check.oracle_table(oracle_triples(pdf))).ok
    assert counts["readers.rows_in"] == 300
    assert counts["pipeline.stage_scans"] >= 1
    assert 0 < counts["link.hit_ratio"] <= 1
    assert counts["enrich.rows_out"] > 0
    for name in layers.CHAIN_COVERAGE:
        assert t.self_time(t.get(name)) >= 0
