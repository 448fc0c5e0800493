"""Full pipeline: run, P/R vs gold, idempotent resume, follow-up crawls,
the alias_components dimension, CC merge of shared-alias surfaces."""

import pytest
from pyspark.sql import functions as F

from deepie_spark.operators import metrics as M
from deepie_spark.plans.pipeline import KgPipeline
from deepie_spark.sources.synth import corpus_dataframes

N = 120

# scalar columns that pin each table's rows
TABLE_COLS = {
    "kg_triples": ["triple_key", "url", "subject", "predicate", "object_key",
                   "subject_id", "object_id"],
    "kg_entities": ["component", "canonical_id", "representative", "n_surfaces"],
    "entity_clusters": ["component", "node", "norm_key", "cluster_canonical_id"],
}


def table_rows(df, table):
    return sorted(tuple(r) for r in df.select(*TABLE_COLS[table]).collect())


@pytest.fixture(scope="module")
def corpus_dfs(spark):
    return corpus_dataframes(spark, N)


@pytest.fixture(scope="module")
def one_crawl(spark, extractor, corpus_dfs, tmp_path_factory):
    """A lake built by one crawl over all N pages."""
    pages_df, _gold, alias_df = corpus_dfs
    root = tmp_path_factory.mktemp("lake_one")
    pipe = KgPipeline(spark, str(root), extractor, run_id="one")
    pipe.run(pages_df, alias_df)
    return pipe


def test_pipeline_end_to_end_and_resume(spark, extractor, corpus_dfs, tmp_path_factory):
    pages_df, gold_df, alias_df = corpus_dfs
    root = tmp_path_factory.mktemp("lake")
    pipe = KgPipeline(spark, str(root), extractor, run_id="r1")

    res1 = pipe.run(pages_df, alias_df)
    assert "triples" in res1.stages_run and not res1.stages_skipped

    kg = pipe.lake.read("kg_triples")
    # linked's link keys stay out of the graph table
    assert kg.columns == ["url", "subject", "subject_type", "predicate", "object",
                          "object_type", "subject_id", "object_value", "object_id",
                          "object_key", "triple_key"]
    prf = M.micro_prf(M.triple_counts(kg, gold_df)).first()
    assert prf["precision"] >= 0.95 and prf["recall"] >= 0.95, dict(prf.asDict())

    # resume: second run with same run_id skips every stage and the
    # MERGE is idempotent (same triple keys -> same row count)
    n_before = kg.count()
    res2 = pipe.run(pages_df, alias_df)
    assert set(res2.stages_skipped) >= {"texts", "tokens", "triples", "linked"}
    assert pipe.lake.read("kg_triples").count() == n_before


def test_pipeline_incremental_merge(spark, extractor, corpus_dfs, one_crawl,
                                    tmp_path_factory, monkeypatch):
    """A follow-up crawl under a new run_id runs every stage (resume
    does not pick up the first crawl's output), reuses the dictionary's
    alias_components without running connected components or the norm
    UDF over the alias rows, and leaves the same graph as one crawl
    over the same pages."""
    from deepie_spark.operators import canonicalize
    from deepie_spark.operators.linking import alias_dim_with_key
    from deepie_spark.plans import pipeline

    cc_calls = []
    real_cc = canonicalize.connected_components

    def spy_cc(*a, **kw):
        cc_calls.append(1)
        return real_cc(*a, **kw)

    key_calls = []

    def spy_key(*a, **kw):
        key_calls.append(1)
        return alias_dim_with_key(*a, **kw)

    monkeypatch.setattr(canonicalize, "connected_components", spy_cc)
    monkeypatch.setattr(pipeline, "alias_dim_with_key", spy_key)
    pages_df, _gold, alias_df = corpus_dfs
    root = tmp_path_factory.mktemp("lake2")
    first = pages_df.limit(60)
    pipe1 = KgPipeline(spark, str(root), extractor, run_id="crawl1")
    res1 = pipe1.run(first, alias_df)
    assert res1.alias_components == {"version": 1, "built": True}
    assert len(cc_calls) == 1 and len(key_calls) == 1

    pipe2 = KgPipeline(spark, str(root), extractor, run_id="crawl2")
    res2 = pipe2.run(pages_df, alias_df)  # includes the first 60 again
    assert not res2.stages_skipped
    assert res2.alias_components == {"version": 1, "built": False}
    assert len(cc_calls) == 1  # the second crawl ran no CC ...
    assert len(key_calls) == 1  # ... and no Python over the dictionary
    assert {"alias_components", "kg_triples", "kg_entities"} <= set(res1.wall_s)
    assert {"kg_triples", "kg_entities"} <= set(res2.wall_s)
    assert "alias_components" not in res2.wall_s

    # crawl 2 covers all N pages: its graph equals a one-crawl lake's
    for table in ("kg_triples", "kg_entities", "entity_clusters"):
        assert table_rows(pipe2.lake.read(table), table) == table_rows(
            one_crawl.lake.read(table), table), table
    # ... and its clusters equal CC run for this crawl alone
    alias_dim = alias_dim_with_key(alias_df, pipe2.extractor_bc)
    per_crawl = canonicalize.canonicalize_entities(
        pipe2.lake.read("linked"), alias_dim, pipe2.extractor_bc
    )
    assert table_rows(pipe2.lake.read("entity_clusters"), "entity_clusters") == \
        table_rows(per_crawl, "entity_clusters")
    assert len(cc_calls) == 2
    # no duplicate triple keys after the second MERGE
    dup = (
        pipe2.lake.read("kg_triples")
        .groupBy("triple_key").count().filter("count > 1").count()
    )
    assert dup == 0


def test_alias_components_versioned_by_dictionary_and_tokenizer(
        spark, extractor, world, corpus_dfs, tmp_path):
    """The dimension's key is the alias rows plus the tokenizer: the
    same key reuses the committed version, a changed alias row or a
    different max_seq_length builds a new one."""
    from deepie_spark.config.schema import SYNTH_SCHEMA
    from deepie_spark.operators.canonicalize import alias_components
    from deepie_spark.operators.extract import PageExtractor
    from deepie_spark.operators.linking import alias_dim_with_key

    _pages, _gold, alias_df = corpus_dfs
    lake = str(tmp_path / "lake")
    pipe = KgPipeline(spark, lake, extractor, run_id="d1")
    comps1, info = pipe.alias_components(alias_df)
    assert info == {"version": 1, "built": True}
    assert pipe.alias_components(alias_df)[1] == {"version": 1, "built": False}

    # move the first alias to the last row's entity
    rows = alias_df.collect()
    moved = rows[-1]["canonical_id"]
    assert rows[0]["canonical_id"] != moved
    changed = spark.createDataFrame(
        [(r["alias"], moved if i == 0 else r["canonical_id"],
          r["entity_type"], r["weight"]) for i, r in enumerate(rows)],
        alias_df.schema,
    )
    comps2, info = pipe.alias_components(changed)
    assert info == {"version": 2, "built": True}
    cols = ["node", "component", "cluster_canonical_id"]
    got = sorted(comps2.select(*cols).collect())
    fresh = alias_components(alias_dim_with_key(changed, pipe.extractor_bc))
    assert got == sorted(fresh.select(*cols).collect())
    assert got != sorted(comps1.select(*cols).collect())

    short = PageExtractor(SYNTH_SCHEMA, world.alias_rows, max_seq_length=128,
                          with_encoder=False)
    pipe_short = KgPipeline(spark, lake, short, run_id="d2")
    assert pipe_short.alias_components(changed)[1] == {"version": 3, "built": True}


def test_alias_components_carry_rank1_link_candidates(one_crawl, corpus_dfs):
    """The dimension's link columns are alias_dim_with_key's rank-1
    rows: the candidates link_triples joins against."""
    from deepie_spark.operators.linking import alias_dim_with_key

    _pages, _gold, alias_df = corpus_dfs
    cols = ["norm_key", "canonical_id", "entity_type"]
    got = one_crawl.lake.read("alias_components").select(*cols).collect()
    want = (
        alias_dim_with_key(alias_df, one_crawl.extractor_bc)
        .where(F.col("link_rank") == 1).select(*cols).collect()
    )
    assert len(got) == len(want) > 0
    assert sorted(got) == sorted(want)


def test_entities_table_clusters(one_crawl):
    ents = one_crawl.lake.read("kg_entities")
    assert ents.count() > 0
    # every cluster has a representative; clusters with dictionary hits
    # carry a canonical_id
    assert ents.filter(F.col("representative").isNull()).count() == 0


def test_pipeline_durable_cc_snapshots(spark, extractor, corpus_dfs, tmp_path_factory):
    """durable_cc=True routes canonicalization's CC rounds through
    parquet snapshots under the lake (driver-loss resume mid-CC);
    clusters must equal the default localCheckpoint run."""
    import os

    pages_df, _gold, alias_df = corpus_dfs
    root_a = tmp_path_factory.mktemp("lake_cc_a")
    root_b = tmp_path_factory.mktemp("lake_cc_b")
    pa = KgPipeline(spark, str(root_a), extractor, run_id="cc1")
    pb = KgPipeline(spark, str(root_b), extractor, run_id="cc1", durable_cc=True)
    pa.run(pages_df, alias_df, resume=False)
    pb.run(pages_df, alias_df, resume=False)

    a = {
        (r["norm_key"], r["component"])
        for r in pa.lake.read("entity_clusters").collect()
    }
    b = {
        (r["norm_key"], r["component"])
        for r in pb.lake.read("entity_clusters").collect()
    }
    assert a == b
    state = os.path.join(str(root_b), "_cc_state", "cc1")
    rounds = [d for d in os.listdir(state) if d.startswith("round_")]
    assert rounds  # snapshots really landed in the lake
