import pytest
from pyspark.sql import functions as F

from deepie_spark.operators.extract import stage_texts, stage_tokens
from deepie_spark.operators.linking import (
    alias_dim_with_key,
    detect_mentions,
    link_triples,
)
from deepie_spark.sources.synth import corpus_dataframes


@pytest.fixture(scope="module")
def bc(spark, extractor):
    return spark.sparkContext.broadcast(extractor)


@pytest.fixture(scope="module")
def tokens(spark, bc):
    pages_df, _, _ = corpus_dataframes(spark, 80)
    return stage_tokens(stage_texts(pages_df), bc).cache()


def test_mentions_surface_matches_alias(tokens, bc, world):
    rows = detect_mentions(tokens, bc).collect()
    assert len(rows) > 50
    aliases = {a["alias"] for a in world.alias_rows}
    norm = {a.lower().replace(" ", "") for a in aliases}
    for r in rows[:200]:
        assert r["mention"].lower().replace(" ", "").replace("\xa0", "") in norm, r


def test_mentions_link_candidates_carry_ids(tokens, bc, world):
    df = detect_mentions(tokens, bc)
    ids = {a["canonical_id"] for a in world.alias_rows}
    got = {r["canonical_id"] for r in df.select("canonical_id").distinct().collect()}
    assert got <= ids and len(got) > 10


def test_alias_dim_rank_deterministic(spark, bc, world):
    _, _, alias_df = corpus_dataframes(spark, 1)
    dim = alias_dim_with_key(alias_df, bc)
    # exactly one rank-1 row per norm_key
    dup = (
        dim.filter(F.col("link_rank") == 1)
        .groupBy("norm_key").count().filter("count > 1").count()
    )
    assert dup == 0


def test_link_triples_subjects_resolve(spark, bc, extractor, world):
    pages_df, gold_df, alias_df = corpus_dataframes(spark, 60)
    from deepie_spark.operators.extract import extract_triples_fused

    triples = extract_triples_fused(pages_df, bc)
    dim = alias_dim_with_key(alias_df, bc)
    linked = link_triples(triples, dim, bc).cache()
    n = linked.count()
    assert n > 0
    # every subject is an alias by construction -> subject_id never null
    assert linked.filter(F.col("subject_id").isNull()).count() == 0
    # literal objects (dates/numbers) stay unlinked
    lit = linked.filter(F.col("object_value").rlike("^[0-9]+$"))
    if lit.count():
        assert lit.filter(F.col("object_id").isNotNull()).count() == 0


def test_link_keys_equal_norm_key_udf(spark, bc):
    """link_triples' subject_norm/object_norm (one Python pass) equal
    norm_key_udf, the per-column oracle, on null @value, empty and
    non-ASCII surfaces."""
    from deepie_spark.operators.extract import TRIPLES_DDL
    from deepie_spark.operators.linking import norm_key_udf

    _, _, alias_df = corpus_dataframes(spark, 1)
    surfaces = [r["alias"] for r in alias_df.limit(3).collect()]
    objects = [
        {"@value": surfaces[1]}, {"@value": None}, {"@type": "date"}, None,
        {"@value": ""}, {"@value": "Zoë Ångström"}, {"@value": "北京大学 2019"},
        {"@value": "naïve café"},
    ]
    subjects = [surfaces[0], "", "Ünïcödé Straße", "東京", surfaces[2],
                "  spaced  out ", "émigré", "1999"]
    rows = [
        (f"u{i}", s, "T", "p", o, {"@value": "T"})
        for i, (s, o) in enumerate(zip(subjects, objects))
    ]
    triples = spark.createDataFrame(rows, TRIPLES_DDL)
    norm = norm_key_udf(bc)
    want = triples.select(
        "url", norm("subject").alias("s"), norm(F.col("object")["@value"]).alias("o")
    ).collect()
    got = link_triples(
        triples, alias_dim_with_key(alias_df, bc), bc
    ).select("url", "subject_norm", "object_norm").collect()
    assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in want)
    by_url = {r[0]: r for r in got}
    assert by_url["u3"][2] is None and by_url["u1"][2] is None  # no @value
    assert by_url["u1"][1] == "" and by_url["u4"][2] == ""  # empty surfaces


def test_link_triples_same_over_dimension(spark, bc):
    """Linking against the alias_components dimension (rank-1 rows
    only) gives the same rows as against alias_dim_with_key."""
    from deepie_spark.operators.canonicalize import alias_components
    from deepie_spark.operators.extract import extract_triples_fused

    pages_df, _, alias_df = corpus_dataframes(spark, 60)
    triples = extract_triples_fused(pages_df, bc).cache()
    dim = alias_dim_with_key(alias_df, bc)
    cols = ["url", "subject", "predicate", "subject_id", "object_value",
            "object_id", "subject_norm", "object_norm"]
    a = link_triples(triples, dim, bc).select(*cols).collect()
    b = link_triples(triples, alias_components(dim), bc).select(*cols).collect()
    triples.unpersist()
    assert len(a) > 0
    assert sorted(map(tuple, a), key=repr) == sorted(map(tuple, b), key=repr)
