"""Relationship-discovery strategies: pairwise node scoring → typed edges.

Reference: /root/reference/memory_core/ingestion/relationship_extractor.py —
four strategies over candidate node pairs (:215-369), parallelized with a
ThreadPoolExecutor over chunks (:132-157):

- SIMILAR_TAGS: tag-set Jaccard > 0.3 (:241-264), confidence = jaccard
- SIMILAR_CONTENT: content-word Jaccard > 0.4 after stop-word removal
  (:266-324), confidence = jaccard
- SAME_SOURCE: equal source, confidence 0.7 (:326-347)
- TEMPORAL_PROXIMITY: |Δt| < 3600 s, confidence max(0.5, 1 − Δt/3600)
  (:349-369)
- tag-based auto-RELATED: nodes sharing ≥1 tag (:484-615)
- SAME_DOMAIN: equal domain property (:713-797), confidence 0.8

Spark-first: the reference enumerates O(n²) pairs in Python; here every
strategy is a BLOCKED equi-join — explode on the blocking key
(tag / shingle / source / time-bucket) so only pairs that can possibly
pass the threshold materialize. The thresholds are applied exactly, so
results equal the reference's full quadratic scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from memory_engine_spark.operators.dedup import _pair_jaccard, _spread, tokens
from memory_engine_spark.operators.text import STOPWORDS

TAG_JACCARD_THRESHOLD = 0.3       # relationship_extractor.py:264
CONTENT_JACCARD_THRESHOLD = 0.4   # relationship_extractor.py:324
SAME_SOURCE_CONFIDENCE = 0.7      # relationship_extractor.py:347
SAME_DOMAIN_CONFIDENCE = 0.8      # relationship_extractor.py:779
TEMPORAL_WINDOW_S = 3600.0        # relationship_extractor.py:363


def similar_tags(df: DataFrame, tags_col: str, id_col: str,
                 threshold: float = TAG_JACCARD_THRESHOLD) -> DataFrame:
    """SIMILAR_TAGS edges: tag-set Jaccard > threshold (strict, matching
    relationship_extractor.py:258-264). ``tags_col`` is the reference's
    comma-joined encoding. Returns (a, b, relation_type, confidence)."""
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(
            F.filter(F.split(F.col(tags_col), ","), lambda x: x != ""))).alias("k"),
    )
    return (
        _pair_jaccard(ex.persist(), "k")
        .filter(F.col("jaccard") > threshold)
        .select("a", "b", F.lit("SIMILAR_TAGS").alias("relation_type"),
                F.round("jaccard", 6).alias("confidence"))
    )


def similar_content(df: DataFrame, text_col: str, id_col: str,
                    threshold: float = CONTENT_JACCARD_THRESHOLD) -> DataFrame:
    """SIMILAR_CONTENT edges: word-set Jaccard > threshold after
    stop-word removal (relationship_extractor.py:289-324)."""
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    words = F.array_distinct(
        F.filter(tokens(F.col("_txt")), lambda t: ~F.array_contains(sw, t)))
    narrow = _spread(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")))
    ex = narrow.select("_id", F.explode(words).alias("k"))
    return (
        _pair_jaccard(ex.persist(), "k")
        .filter(F.col("jaccard") > threshold)
        .select("a", "b", F.lit("SIMILAR_CONTENT").alias("relation_type"),
                F.round("jaccard", 6).alias("confidence"))
    )


def same_source(df: DataFrame, source_col: str, id_col: str) -> DataFrame:
    """SAME_SOURCE edges, confidence 0.7 (relationship_extractor.py:326-347).
    Blocked on the source value itself."""
    s = df.select(F.col(id_col).alias("_id"), F.col(source_col).alias("k")) \
        .filter(F.col("k").isNotNull())
    a = s.select(F.col("_id").alias("a"), "k")
    b = s.select(F.col("_id").alias("b"), "k")
    return (
        a.join(b, "k").filter(F.col("a") < F.col("b"))
        .select("a", "b", F.lit("SAME_SOURCE").alias("relation_type"),
                F.lit(SAME_SOURCE_CONFIDENCE).alias("confidence"))
    )


def temporal_proximity(df: DataFrame, ts_col: str, id_col: str,
                       window_s: float = TEMPORAL_WINDOW_S,
                       block_col: str | None = None) -> DataFrame:
    """TEMPORAL_PROXIMITY edges: |Δt| < window, confidence
    max(0.5, 1 − Δt/window) (relationship_extractor.py:349-369).

    ``ts_col`` must be a timestamp. Pairs are blocked on floor(t/window)
    buckets — each row lands in its own and the NEXT bucket, so every
    qualifying pair shares a bucket (|Δt| < window ⇒ same or adjacent
    bucket) and the join stays an equi-join. An optional extra blocking
    column (e.g. user/source) multiplies selectivity.
    """
    us = F.unix_micros(F.col(ts_col))
    bucket = F.floor(us / F.lit(int(window_s * 1_000_000)))
    base = df.select(
        F.col(id_col).alias("_id"), us.alias("_us"),
        F.explode(F.array(bucket, bucket + 1)).alias("bk"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
    )
    on = ["bk"] + (["_blk"] if block_col else [])
    a = base.select(F.col("_id").alias("a"), F.col("_us").alias("us_a"), *on)
    b = base.select(F.col("_id").alias("b"), F.col("_us").alias("us_b"), *on)
    dt = F.abs(F.col("us_a") - F.col("us_b")) / 1_000_000.0
    return (
        a.join(b, on)
        .filter(F.col("a") < F.col("b"))
        # bucket b and bucket b+1 of the left row both contain the right
        # row when close — dedup double-matched pairs
        .dropDuplicates(["a", "b"])
        .withColumn("dt", dt)
        .filter(F.col("dt") < window_s)
        .select("a", "b", F.lit("TEMPORAL_PROXIMITY").alias("relation_type"),
                F.round(F.greatest(F.lit(0.5), 1.0 - F.col("dt") / window_s), 6)
                .alias("confidence"))
    )


def same_domain(df: DataFrame, domain_col: str, id_col: str) -> DataFrame:
    """SAME_DOMAIN edges, confidence 0.8 (relationship_extractor.py:713-797)."""
    out = same_source(df, domain_col, id_col)
    return out.select("a", "b", F.lit("SAME_DOMAIN").alias("relation_type"),
                      F.lit(SAME_DOMAIN_CONFIDENCE).alias("confidence"))


def related_by_shared_tag(df: DataFrame, tags_col: str, id_col: str) -> DataFrame:
    """Tag-based auto-relationships: any shared tag → RELATED edge
    (relationship_extractor.py:484-615), confidence = 0.5 default."""
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(
            F.filter(F.split(F.col(tags_col), ","), lambda x: x != ""))).alias("k"),
    )
    a = ex.select(F.col("_id").alias("a"), "k")
    b = ex.select(F.col("_id").alias("b"), "k")
    return (
        a.join(b, "k").filter(F.col("a") < F.col("b")).select("a", "b").distinct()
        .select("a", "b", F.lit("RELATED").alias("relation_type"),
                F.lit(0.5).alias("confidence"))
    )


def semantically_similar(embeddings: DataFrame, k: int = 5,
                         threshold: float = 0.7,
                         id_col: str = "node_id",
                         vec_col: str = "embedding",
                         bucket_col: str | None = None) -> DataFrame:
    """SEMANTICALLY_SIMILAR edge suggestion: per-node top-k embedding
    neighbors above threshold (relationship_extractor.py:617-712).
    Near-dup pair join (blocked when bucket_col given) + per-node rank —
    the LSH/IVF bucket is the scale path, exactly like the reference's
    vector-store top-k."""
    from pyspark.sql.window import Window

    from memory_engine_spark.operators.similarity import neardup_pairs

    pairs = neardup_pairs(embeddings, threshold, id_col, vec_col, bucket_col)
    both = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"), "cosine"))
    w = Window.partitionBy("a").orderBy(F.col("cosine").desc(), F.col("b").asc())
    return (both.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
            .select(F.col("a"), F.col("b"),
                    F.lit("SEMANTICALLY_SIMILAR").alias("relation_type"),
                    F.round("cosine", 6).alias("confidence")))


def discover_all(df: DataFrame, id_col: str, text_col: str | None = None,
                 tags_col: str | None = None, source_col: str | None = None,
                 ts_col: str | None = None) -> DataFrame:
    """Run every applicable strategy and union the typed edges —
    the reference's analyze-all pipeline (relationship_extractor.py:79-190)."""
    parts = []
    if tags_col:
        parts.append(similar_tags(df, tags_col, id_col))
    if text_col:
        parts.append(similar_content(df, text_col, id_col))
    if source_col:
        parts.append(same_source(df, source_col, id_col))
    if ts_col:
        parts.append(temporal_proximity(df, ts_col, id_col))
    if not parts:
        raise ValueError("no strategy columns given")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
