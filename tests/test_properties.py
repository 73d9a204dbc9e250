"""Property/invariant tests (SURVEY.md §5.4):
  - partition-count invariance (catches accidental order dependence — the
    distributed stand-in for 'same result on any cluster layout')
  - codec round-trip
  - sum-of-grouped-counts == grouped Number (analyzeLog.go:258-264)
  - non-grouped Number counts duplicates while the match set dedups
  - config lint rejects non-RE2 patterns
"""

from __future__ import annotations

import pytest

from radar_log_parser_spark.codec import Vocab
from radar_log_parser_spark.config import ConfigError, parse_config


def test_codec_roundtrip(corpus):
    lines = [ln for lns in corpus.values() for ln in lns]
    vocab = Vocab.build(lines)
    for ln in lines[:500]:
        assert vocab.decode(vocab.encode(ln)) == ln


def test_partition_invariance(spark, cfg, vocab, fx):
    """Pipeline result must not depend on input partitioning: run the
    summary at 1 and at 13 input partitions and compare."""
    from radar_log_parser_spark.functions.parse import parse_stage
    from radar_log_parser_spark.operators import aggregates as agg
    from radar_log_parser_spark.operators import routing

    def summarize(n_parts: int):
        raw = spark.read.parquet(fx.logs_path).repartition(n_parts)
        parsed = parse_stage(raw, cfg, vocab)
        kept = routing.kept_processes(parsed)
        ipmap = routing.issue_process_map(spark, cfg)
        scope = routing.scoped_direct(parsed, kept, ipmap, cfg)
        other = routing.other_routed(scope)
        rows = agg.other_issue_aggs(other).collect()
        return sorted(
            (r["source"], r["issue"], r["number"], r["first_match"], r["last_match"])
            for r in rows
        )

    assert summarize(1) == summarize(13)


def test_grouped_sum_invariant(pipeline_result):
    from pyspark.sql import functions as F

    gi = pipeline_result.sinks["grouped_issues"]
    totals = gi.groupBy("source", "issue").agg(F.sum("count").alias("s")).collect()
    routed = (
        pipeline_result.sinks["grouped_routed"]
        .groupBy("source", "issue")
        .count()
        .collect()
    )
    assert sorted((r["source"], r["issue"], r["s"]) for r in totals) == sorted(
        (r["source"], r["issue"], r["count"]) for r in routed
    )


def test_nongrouped_number_vs_set(pipeline_result, golden):
    rows = pipeline_result.sinks["other_routed"].collect()
    for source, g in golden.items():
        for iname, ov in g["other_issues"].items():
            matches = [
                r["match"]
                for r in rows
                if r["source"] == source and r["issue"] == iname
            ]
            assert len(matches) == ov["number"]
            assert sorted(set(matches)) == ov["match_set"]
            assert len(matches) >= len(set(matches))


def test_lint_rejects_lookaround():
    with pytest.raises(ConfigError):
        parse_config({"SpecificProcess": {"P": r"foo(?=bar)"}})
    with pytest.raises(ConfigError):
        parse_config({"SpecificProcess": {"P": r"(a)\1"}})
    with pytest.raises(ConfigError):
        parse_config({"SpecificProcess": {"P": r"foo(unclosed"}})


def test_lint_rejects_undergrouped_grouping():
    raw = {
        "Issues": {
            "X": {
                "specific_process": {"P": "p"},
                "detailing_mode": "group",
                "grouping": "only (one) group",
            }
        }
    }
    with pytest.raises(ConfigError):
        parse_config(raw)


def test_quirk_q1_lonelyproc_dropped(pipeline_result):
    """LonelyProc has exactly one matching line → the >1 keep rule drops it
    (analyzeLog.go:137)."""
    procs = {
        r["process"]
        for r in pipeline_result.sinks["specific_issues"].select("process").distinct().collect()
    }
    assert "LonelyProc" not in procs
    assert {"CameraService", "AudioFlinger"} <= procs

