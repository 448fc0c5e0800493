"""End-to-end KG-construction pipeline with checkpoint/resume.

Stage DAG (each stage a lakehouse table, resumable):

    pages -> texts -> tokens -> triples -> linked -> entity_clusters
                         \\-> mentions       ^  |          ^       |
    aliases -> alias_components ------------+--|----------+       |
               (dictionary dimension)          v                  v
                                          kg_triples         kg_entities
                                            MERGE              MERGE

Every crawl stage runs at most one Python pass: ``texts``, ``tokens``
and ``mentions`` one page-local kernel each; ``triples`` one page-local
kernel over the materialized ``tokens`` (no exchange); ``linked`` one
pass that computes both link keys, then broadcast joins; and
``entity_clusters`` none — it reuses ``linked``'s keys.

``alias_components`` is the alias dictionary's side of linking and
canonicalization: per alias node its connected component, the
component's canonical id and the node's rank-1 link candidate.  It
depends only on the dictionary, so it is keyed by a fingerprint of the
raw alias rows plus the extractor's tokenizer identity, stored in its
version pointer, and rebuilt only when that key changes; a follow-up
crawl with the same dictionary runs no connected-components job and no
Python over the dictionary.

Lifecycle mirrors the reference flagship run (SURVEY.md §3.1) with the
pickle cache replaced by fingerprinted stage tables.  ``run()`` is
idempotent: a killed job re-run with the same run_id skips the stages
that run committed (lineage check) and re-derives the rest — the north
rule's "resumes idempotently mid-crawl".
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepie_spark.operators import extract as ex_ops
from deepie_spark.operators.canonicalize import (
    alias_components,
    canonicalize_entities,
    row_fingerprint,
)
from deepie_spark.operators.linking import (
    alias_dim_with_key,
    detect_mentions,
    link_triples,
)
from deepie_spark.operators.metrics import obj_key
from deepie_spark.sources.lakehouse import Lakehouse


@dataclass
class PipelineResult:
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    # seconds per stage and MERGE this run executed; a dimension build
    # (``alias_components``) is also inside ``linked``'s time
    wall_s: dict[str, float] = field(default_factory=dict)
    # {"version": v, "built": bool} for the alias_components dimension
    # linked and entity_clusters joined against; None when both resumed
    alias_components: dict | None = None


class KgPipeline:
    def __init__(
        self,
        spark: SparkSession,
        lake_root: str,
        extractor,
        run_id: str = "run0",
        url_buckets: int = 32,
        durable_cc: bool = False,
    ):
        self.spark = spark
        self.lake = Lakehouse(lake_root, spark)
        self.extractor_bc = spark.sparkContext.broadcast(extractor)
        self.tokenizer_identity = extractor.tokenizer_identity()
        self.run_id = run_id
        self.url_buckets = url_buckets
        # durable_cc: when this run builds alias_components, its
        # connected-components rounds snapshot to the lake (driver-loss
        # resume mid-CC, not just mid-stage); off by default — stage-
        # level resume already covers the common case and the
        # snapshots cost one parquet round-trip per CC round
        self.cc_state_dir = (
            f"{lake_root}/_cc_state/{run_id}" if durable_cc else None
        )

    # -- stage definitions -------------------------------------------------

    def alias_components(self, alias_df: DataFrame) -> tuple[DataFrame, dict]:
        """The ``alias_components`` dimension for ``alias_df``: the
        committed version when its key (alias-row fingerprint, one
        aggregation job, plus tokenizer identity) matches, else a new
        version built by CC over the alias edges (the only place a
        crawl evaluates Python over the dictionary).  Returns the table and
        ``{"version": v, "built": bool}``.  The key covers the
        tokenizer's vocab and settings, not its code."""
        name = "alias_components"
        n, h = row_fingerprint(alias_df)
        key = {"alias_rows": n, "alias_fp": h, "tokenizer": self.tokenizer_identity}
        built = not (self.lake.exists(name) and self.lake.key(name) == key)
        if built:
            alias_dim = alias_dim_with_key(alias_df, self.extractor_bc)
            self.lake.write_stage(
                alias_components(alias_dim, self.cc_state_dir), name,
                run_id=self.run_id, key=key,
            )
        info = {"version": self.lake.current_version(name), "built": built}
        return self.lake.read(name), info

    def _stage(self, name: str, fn, result: PipelineResult, resume: bool) -> DataFrame:
        if resume and self.lake.stage_done(name, self.run_id):
            result.stages_skipped.append(name)
            return self.lake.read(name)
        t0 = time.time()
        df = fn()
        self.lake.write_stage(df, name, run_id=self.run_id)
        result.stages_run.append(name)
        result.wall_s[name] = time.time() - t0
        return self.lake.read(name)

    def run(
        self,
        pages_df: DataFrame,
        alias_df: DataFrame,
        resume: bool = True,
    ) -> PipelineResult:
        res = PipelineResult()
        bc = self.extractor_bc
        # bucket column: deterministic url bucket, the partition handle
        # for per-partition lineage and (on Iceberg) bucket(url) spec
        bucket = F.pmod(F.xxhash64("url"), F.lit(self.url_buckets)).cast("int")

        texts = self._stage(
            "texts",
            lambda: ex_ops.stage_texts(pages_df).withColumn("url_bucket", bucket),
            res, resume,
        )
        tokens = self._stage(
            "tokens", lambda: ex_ops.stage_tokens(texts, bc), res, resume
        )
        self._stage(
            "mentions", lambda: detect_mentions(tokens, bc), res, resume
        )
        triples = self._stage(
            "triples", lambda: ex_ops.triples_from_tokens(tokens, bc), res, resume
        )

        dim: list[DataFrame] = []

        def components() -> DataFrame:
            # the dimension, looked up once and only if a stage needs it
            if not dim:
                t0 = time.time()
                comps, res.alias_components = self.alias_components(alias_df)
                if res.alias_components["built"]:
                    res.wall_s["alias_components"] = time.time() - t0
                dim.append(comps)
            return dim[0]

        linked = self._stage(
            "linked", lambda: link_triples(triples, components(), bc), res, resume
        )
        clusters = self._stage(
            "entity_clusters",
            lambda: canonicalize_entities(linked, None, bc, components=components()),
            res, resume,
        )

        # -- graph materialization (MERGE) --------------------------------
        def _kg_triples():
            t = linked.drop("subject_norm", "object_norm").withColumn(
                "object_key", obj_key(F.col("object"))
            )
            return t.withColumn(
                "triple_key",
                F.xxhash64("url", "subject", "predicate", "object_key"),
            )

        t0 = time.time()
        self.lake.merge_upsert(
            _kg_triples(), "kg_triples", ["triple_key"], run_id=self.run_id
        )
        res.stages_run.append("kg_triples")
        res.wall_s["kg_triples"] = time.time() - t0

        kg_e = (
            clusters.groupBy("component")
            .agg(
                F.min("cluster_canonical_id").alias("canonical_id"),
                F.min("norm_key").alias("representative"),
                F.count(F.lit(1)).alias("n_surfaces"),
            )
        )
        t0 = time.time()
        self.lake.merge_upsert(kg_e, "kg_entities", ["component"], run_id=self.run_id)
        res.stages_run.append("kg_entities")
        res.wall_s["kg_entities"] = time.time() - t0
        return res
