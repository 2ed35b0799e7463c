"""Reference plans the fast exact pair kernels are compared with.

Both are the straightforward relational form of the same result:
slow (quadratic in colliding docs / in corpus size) but with no block
scaffolding and no Python, so a disagreement points at the kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fundamental_spark.operators.blocks import spread
from fundamental_spark.operators.dedup import word_shingles
from fundamental_spark.operators.similarity import cosine


def ngram_jaccard_index(
    docs: DataFrame,
    threshold: float = 0.1,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Inverted-index self-join on the shingle STRING + pair groupBy:
    (doc_a, doc_b, jaccard), the shape of the DuckDB oracle."""
    sh = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold by crossJoin + JVM HOF cosine:
    (id_a, id_b, cos), the shape of the DuckDB oracle."""
    a = spread(corpus).select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    cos = cosine(F.col("va"), F.col("vb"))
    return pairs.select(
        "id_a", "id_b", F.round(cos, 4).alias("cos")
    ).filter(F.col("cos") >= threshold)
