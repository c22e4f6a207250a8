"""Checkpoint-resume and lineage tests (north-rule requirements)."""

import os
import shutil

from kgner.fixtures import build_fixtures, to_spark
from kgner.pipeline import Pipeline, PipelineConfig


def _mk(spark, tmp, resume=True, salt=0, **cfg_kw):
    fx = build_fixtures(n_entities=15, n_pages=25, giant_pages=0)
    t = to_spark(spark, fx)
    cfg = PipelineConfig(workdir=tmp, resume=resume, salt_buckets=salt, **cfg_kw)
    return Pipeline(spark, cfg, t["pages"], t["kb_pages"], t["redirects"]), fx


def test_pipeline_runs_and_resumes(spark, tmp_path):
    wd = str(tmp_path / "run1")
    pipe, fx = _mk(spark, wd)
    triples = pipe.run()
    n1 = triples.count()
    assert n1 > 0
    assert pipe.ran == [
        "extracted",
        "sentences",
        "kb_sentences",
        "canonical",
        "mentions",
        "triples",
    ]
    # lineage recorded per stage with row counts + per-partition breakdown
    lin = {r["stage"]: r for r in pipe.lineage.read_all()}
    assert set(lin) == set(pipe.ran)
    assert lin["triples"]["rows_out"] == n1
    assert all(r["wall_ms"] >= 0 for r in lin.values())
    for stage in pipe.ran:
        parts = lin[stage]["partitions"]
        assert parts and sum(parts.values()) == lin[stage]["rows_out"], stage
    assert lin["mentions"]["inputs"] == ["sentences", "canonical"]

    # full resume: everything skipped, identical output
    pipe2, _ = _mk(spark, wd)
    t2 = pipe2.run()
    assert pipe2.ran == [] and len(pipe2.skipped) == 6
    assert t2.count() == n1

    # partial resume: kill after stage 3 (simulate by deleting downstream)
    for stage in ["mentions", "triples"]:
        shutil.rmtree(os.path.join(wd, stage))
    pipe3, _ = _mk(spark, wd)
    t3 = pipe3.run()
    assert pipe3.ran == ["mentions", "triples"]
    assert pipe3.skipped == ["extracted", "sentences", "kb_sentences", "canonical"]
    assert t3.count() == n1


def test_pipeline_ensemble_stage(spark, tmp_path):
    """model_predictions input -> ensembled table appears and matches gold."""
    from kgner.fixtures import build_fixtures, to_spark
    from kgner.pipeline import Pipeline, PipelineConfig

    fx = build_fixtures(n_entities=12, n_pages=20, giant_pages=0)
    t = to_spark(spark, fx)
    cfg = PipelineConfig(workdir=str(tmp_path / "we"))
    pipe = Pipeline(
        spark, cfg, t["pages"], t["kb_pages"], t["redirects"],
        model_predictions=t["model_predictions"],
    )
    pipe.run()
    ens = spark.read.parquet(str(tmp_path / "we" / "ensembled"))
    gold = {
        (m["url"], m["sent_id"], m["start"], m["end"])
        for m in fx.gold_mentions
    }
    got = {
        (r["url"], r["sent_id"], r["start"], r["end"]) for r in ens.collect()
    }
    assert len(gold & got) / max(len(gold), 1) >= 0.99


def test_pipeline_salted_same_output(spark, tmp_path):
    """Salted repartition (skew guard) must not change results — whether
    engaged statically or via the adaptive skew probe."""
    a, _ = _mk(spark, str(tmp_path / "a"), salt=0)
    b, _ = _mk(spark, str(tmp_path / "b"), salt=8)
    # adaptive: ~30% of fixture pages sit on hot.example.com, so a 5%
    # threshold engages the salt and a 90% threshold skips it
    c, _ = _mk(spark, str(tmp_path / "c"), salt=8, salt_threshold=0.05)
    d, _ = _mk(spark, str(tmp_path / "d"), salt=8, salt_threshold=0.90)
    ta = {(r["subj"], r["pred"], r["obj"]) for r in a.run().collect()}
    tb = {(r["subj"], r["pred"], r["obj"]) for r in b.run().collect()}
    tc = {(r["subj"], r["pred"], r["obj"]) for r in c.run().collect()}
    td = {(r["subj"], r["pred"], r["obj"]) for r in d.run().collect()}
    assert ta == tb == tc == td
    assert c.salt_engaged is True
    assert d.salt_engaged is False


def test_pipeline_ensemble_strips_augmented_predictions(spark, tmp_path):
    """Predictions carrying an augmented token stream (sentence + <EOS> +
    retrieved context) are truncated at <EOS> before voting: spans the
    model planted in the context region never reach the ensembled table,
    and the result equals ensembling the plain-sentence predictions."""
    from pyspark.sql import functions as F

    from kgner.fixtures import build_fixtures, to_spark
    from kgner.operators.ensemble import ensemble_votes
    from kgner.pipeline import Pipeline, PipelineConfig

    fx = build_fixtures(n_entities=12, n_pages=20, giant_pages=0)
    t = to_spark(spark, fx)
    # augment every prediction: tokens = one placeholder per original tag
    # + <EOS> + two context tokens; tags gain a B-ENT/I-ENT planted INSIDE
    # the context region that must be stripped
    preds = (
        t["model_predictions"]
        .withColumn(
            "tokens",
            F.concat(
                F.transform(F.col("tags"), lambda _: F.lit("w")),
                F.array(F.lit("<EOS>"), F.lit("ctx1"), F.lit("ctx2")),
            ),
        )
        .withColumn(
            "tags",
            F.concat(
                F.col("tags"),
                F.array(F.lit("O"), F.lit("B-ENT"), F.lit("I-ENT")),
            ),
        )
    )
    cfg = PipelineConfig(workdir=str(tmp_path / "ws"))
    pipe = Pipeline(
        spark, cfg, t["pages"], t["kb_pages"], t["redirects"],
        model_predictions=preds,
    )
    pipe.run()
    got = {
        (r.url, r.sent_id, r.start, r.end, r.label)
        for r in spark.read.parquet(str(tmp_path / "ws" / "ensembled")).collect()
    }
    want = {
        (r.url, r.sent_id, r.start, r.end, r.label)
        for r in ensemble_votes(t["model_predictions"]).collect()
    }
    assert got == want and len(got) > 0
