"""Resumability: kill after stage-k checkpoint, restart, identical final
sinks and no recomputation of completed stages (north rule)."""

from __future__ import annotations

import json
import os

from radar_log_parser_spark.plans.pipeline import Pipeline


def _summary_rows(res):
    return sorted(
        (r["source"], r["issue"], r["number"], r["timestamp"], r["log_level"])
        for r in res.sinks["summary"].collect()
    )


def test_checkpoint_resume(spark, cfg, vocab, fx, tmp_path):
    work = str(tmp_path / "ckpt")

    # First run: all stages execute and checkpoint.
    p1 = Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True)
    r1 = p1.run()
    s1 = _summary_rows(r1)
    assert all(not m.resumed for m in r1.metrics)
    executed = {m.stage for m in r1.metrics}
    assert {"parsed", "specific_issues", "scoped", "other_routed",
            "grouped_routed", "events", "severity", "grouped_issues",
            "summary"} <= executed

    # Simulate a crash AFTER "scoped": delete every later checkpoint.
    for stage in ("other_routed", "grouped_routed", "events", "severity",
                  "grouped_issues", "summary"):
        suc = os.path.join(work, stage, "_SUCCESS")
        if os.path.exists(suc):
            os.remove(suc)

    # Restart: early stages resume from checkpoint, later stages recompute.
    p2 = Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True)
    r2 = p2.run()
    by_stage = {m.stage: m for m in r2.metrics}
    assert by_stage["parsed"].resumed
    assert by_stage["specific_issues"].resumed
    assert by_stage["scoped"].resumed
    assert not by_stage["other_routed"].resumed
    assert _summary_rows(r2) == s1

    # Third run: everything resumes; byte-equal sinks.
    p3 = Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True)
    r3 = p3.run()
    assert all(m.resumed for m in r3.metrics)
    assert {m.stage for m in r3.metrics} == executed
    assert _summary_rows(r3) == s1


def test_lineage_manifests(spark, cfg, vocab, fx, tmp_path):
    """Every checkpoint carries per-partition lineage + metrics."""
    work = str(tmp_path / "ckpt2")
    Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True).run()
    lp = os.path.join(work, "parsed", "_lineage.json")
    with open(lp) as f:
        manifest = json.load(f)
    assert manifest["stage"] == "parsed"
    assert manifest["rows"] > 0
    assert manifest["files"] >= 1
    assert sum(manifest["per_file_rows"].values()) == manifest["rows"]
    assert manifest["parents"] == ["input"]
    assert manifest["fingerprint"]


def test_config_change_invalidates_checkpoint(spark, cfg, vocab, fx, tmp_path):
    """A different config must NOT resume from the old checkpoints."""
    import dataclasses

    work = str(tmp_path / "ckpt3")
    Pipeline(spark, cfg, vocab, fx.logs_path, work_dir=work, checkpoint=True).run()
    cfg2 = dataclasses.replace(cfg, priority={**cfg.priority, "ConnTimeout": 9})
    r2 = Pipeline(spark, cfg2, vocab, fx.logs_path, work_dir=work, checkpoint=True).run()
    assert all(not m.resumed for m in r2.metrics)
