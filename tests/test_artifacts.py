"""Artifact distribution (S3-S6 Spark equivalents)."""

import os
import zipfile

from pii_detection_service_spark.sources import artifacts


def test_broadcast_gazetteer(spark):
    bc = artifacts.broadcast_gazetteer(spark, extra_names={"Zarathustra"})
    assert "alice" in bc.value and "zarathustra" in bc.value
    # usable inside a distributed closure
    n = (
        spark.sparkContext.parallelize(["Alice", "nobody"], 2)
        .filter(lambda w: w.lower() in bc.value)
        .count()
    )
    assert n == 1
    bc.unpersist()


def test_distribute_and_fetch_archive(spark, tmp_path):
    content = tmp_path / "gaz.txt"
    content.write_text("alpha\nbeta\n")
    zpath = tmp_path / "model.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.write(content, "gaz.txt")

    name = artifacts.distribute_archive(spark, str(zpath))

    def use(_):
        d = artifacts.fetch_archive(name)
        return open(os.path.join(d, "gaz.txt")).read()

    out = spark.sparkContext.parallelize([1, 2], 2).map(use).collect()
    assert out == ["alpha\nbeta\n"] * 2
    # extract-once cache marker exists
    d = artifacts.fetch_archive(name)
    assert os.path.exists(os.path.join(d, ".extracted"))


def test_large_gazetteer_through_production_score_path(spark):
    """The ≥2×10⁴-name synthetic gazetteer flows through broadcast →
    make_score_struct_udf → tag_and_scrub: synthetic names get tagged as
    NAME_STUDENT and scrubbed, builtin behavior is preserved (superset),
    and the module default is never rebound (no state leak into
    gazetteer-less callers)."""
    import pyspark.sql.functions as F

    from pii_detection_service_spark import udfs
    from pii_detection_service_spark.functions import tagger
    from pii_detection_service_spark.sources.synth import synth_gazetteer

    gaz = synth_gazetteer()
    assert len(gaz) >= 20_000 and tagger.FIRST_NAMES <= gaz
    # pick a synthetic-only name (not in the builtin set)
    synth_name = sorted(gaz - tagger.FIRST_NAMES)[0]
    bc = spark.sparkContext.broadcast(gaz)

    rows = [
        (0, f"a photo shared by {synth_name.capitalize()} yesterday"),
        (1, "a photo shared by Alice yesterday"),
        (2, "a quiet street with no people at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, caption string")
    got = {
        r["doc_id"]: r
        for r in df.withColumn(
            "_s", udfs.make_score_struct_udf(gaz_bc=bc)(F.col("caption"))
        )
        .select("doc_id", "_s.n_pii", "_s.scrubbed_caption", "_s.labels")
        .collect()
    }
    assert got[0]["n_pii"] == 1 and "[NAME_STUDENT]" in got[0]["scrubbed_caption"]
    assert got[1]["n_pii"] == 1 and "[NAME_STUDENT]" in got[1]["scrubbed_caption"]
    assert got[2]["n_pii"] == 0 and got[2]["scrubbed_caption"] == rows[2][1]

    # without the broadcast, the synthetic name is NOT tagged (default
    # untouched; builtin golden behavior intact)
    import pandas as pd

    plain = udfs.score_batch(pd.Series([rows[0][1]]))
    assert plain["n_pii"][0] == 0
    assert tagger._GAZETTEER is tagger.FIRST_NAMES


def test_set_gazetteer_restore_contract():
    from pii_detection_service_spark.functions import tagger

    prev = tagger.set_gazetteer({"xyzzy"})  # entries are lowercase (contract)
    try:
        assert prev is tagger.FIRST_NAMES
        toks, labels = tagger.tag("met Xyzzy today")
        assert labels[toks.index("Xyzzy")] == "B-NAME_STUDENT"
    finally:
        tagger.set_gazetteer(prev)
    toks, labels = tagger.tag("met Xyzzy today")
    assert set(labels) == {"O"}
