"""Entity mention detection + alias-dictionary linking.

The reference's lexicon-augmented NER path is the analogue: per
position, enumerate all gazetteer words prefixing the suffix
(trie.py:36-43 via functions.py:87-129), longest-first subsumption
dedup (data.py:236-249).  Its entity-linking module proper is an empty
placeholder (run/entity_linking/ is 0 bytes; SURVEY.md §0), so link
*scoring* is our design: exact normalized-surface match against the
alias dimension, ranked by alias weight then canonical_id — a
broadcast join, no UDF on the scoring side.

Scale notes: the alias dimension is small (millions of rows at most)
-> broadcast; the mention stream is huge -> never shuffled here (the
trie runs inside the token-stage mapInPandas); the link join is
broadcast so it adds no shuffle either.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

MENTIONS_DDL = (
    "url string, mention string, tok_start int, tok_end int, "
    "canonical_id bigint, entity_type string, weight double"
)


def page_mentions_py(
    ex, url: str, context: str, tokens: list[str],
    starts: list[int], ends: list[int],
) -> list[tuple]:
    """Single-row mention oracle: longest-nonoverlapping trie matches
    with all candidate entities per span.  Shared verbatim by the
    distributed kernel and the driver-side fixture oracle, so the
    hash-check verifies the Spark plumbing against this exact code."""
    rows = []
    for s, e, _entry in ex.trie.match_longest_nonoverlap(tokens):
        surface = context[starts[s] : ends[e - 1] + 1]
        # all candidates at this span (shared aliases)
        for ee, entries in ex.trie.enumerate_matches(tokens, s):
            if ee != e:
                continue
            for cand in entries:
                rows.append((url, surface, s, e - 1,
                             cand.canonical_id, cand.entity_type,
                             cand.weight))
    return rows


def detect_mentions(tokens_df: DataFrame, extractor_bc) -> DataFrame:
    """tokens stage -> one row per longest-nonoverlapping alias match.

    Emits (url, mention surface, token span, candidate canonical_id,
    entity_type, weight); a surface with k candidate entities emits k
    rows (link scoring picks one downstream).
    """

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ex = extractor_bc.value
        cols = ["url", "mention", "tok_start", "tok_end", "canonical_id",
                "entity_type", "weight"]
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                rows.extend(
                    page_mentions_py(
                        ex, r.url, r.context, list(r.tokens),
                        list(r.tok_start), list(r.tok_end),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return tokens_df.select("url", "context", "tokens", "tok_start", "tok_end") \
        .mapInPandas(kernel, MENTIONS_DDL)


def norm_key_udf(extractor_bc):
    """Surface form -> normalized link key: the token stream re-joined.

    Using the *same* tokenizer as page text guarantees alias and
    extracted-surface keys agree (the reference compares tokenized
    subjects/objects the same way, etl_span/train.py:21-38)."""

    def _norm(s: pd.Series) -> pd.Series:
        ex = extractor_bc.value
        return s.map(lambda x: " ".join(ex._alias_tokens(x)) if x is not None else None)

    return F.pandas_udf(_norm, "string")


def alias_dim_with_key(alias_df: DataFrame, extractor_bc) -> DataFrame:
    """Alias dimension + norm_key + deterministic rank among candidates
    sharing a key (weight desc, canonical_id asc)."""
    from pyspark.sql import Window

    norm = norm_key_udf(extractor_bc)
    w = Window.partitionBy("norm_key").orderBy(
        F.desc("weight"), F.asc("canonical_id")
    )
    return (
        alias_df.withColumn("norm_key", norm("alias"))
        .withColumn("link_rank", F.row_number().over(w))
    )


def link_candidates(alias_dim: DataFrame) -> DataFrame:
    """(norm_key, canonical_id) of each key's rank-1 candidate.
    ``alias_dim`` is either ``alias_dim_with_key`` output or the
    ``alias_components`` dimension, which stores only those rows."""
    if "link_rank" in alias_dim.columns:
        alias_dim = alias_dim.where(F.col("link_rank") == 1)
    return alias_dim.select("norm_key", "canonical_id")


def link_keys(triples_df: DataFrame, extractor_bc) -> DataFrame:
    """Triples + ``subject_norm`` and ``object_norm`` (the normalized
    keys of ``subject`` and ``object['@value']``), both computed in ONE
    Python pass over the triples.  Each key equals ``norm_key_udf`` of
    its surface (tested), so it matches the dictionary's keys."""
    schema = StructType(
        triples_df.schema.fields
        + [StructField("subject_norm", StringType()),
           StructField("object_norm", StringType())]
    )

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ex = extractor_bc.value

        def norm(x):
            return None if x is None else " ".join(ex._alias_tokens(x))

        for pdf in it:
            yield pdf.assign(
                subject_norm=[norm(s) for s in pdf["subject"]],
                object_norm=[
                    None if o is None else norm(dict(o).get("@value"))
                    for o in pdf["object"]
                ],
            )

    return triples_df.mapInPandas(kernel, schema)


def link_triples(triples_df: DataFrame, alias_dim: DataFrame, extractor_bc) -> DataFrame:
    """Triples -> linked triples: subject_id and object_id (null for
    literals like dates/numbers), plus the ``subject_norm`` and
    ``object_norm`` link keys that canonicalization reuses.  The keys
    come from one Python pass; each id is a broadcast join against the
    dictionary's rank-1 candidates, so the big side never shuffles."""
    best = link_candidates(alias_dim)

    def ids(side: str) -> DataFrame:
        return F.broadcast(
            best.withColumnRenamed("norm_key", f"{side}_norm")
            .withColumnRenamed("canonical_id", f"{side}_id")
        )

    out = (
        link_keys(triples_df, extractor_bc)
        .withColumn("object_value", F.col("object")["@value"])
        .join(ids("subject"), "subject_norm", "left")
        .join(ids("object"), "object_norm", "left")
    )
    return out.select(
        *triples_df.columns, "subject_id", "object_value", "object_id",
        "subject_norm", "object_norm",
    )
