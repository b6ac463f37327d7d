"""Feature engineering (SURVEY.md §2.11, M1-M2).

The reference StringIndexes every string column in a sequential Python loop —
one group-count job per column (price-prediction.py:159-167). We fit ONE
multi-column StringIndexer (single pass over the data) and assemble with
handleInvalid='skip' like the reference (price-prediction.py:178-190).
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import StringIndexer, VectorAssembler
from pyspark.sql import DataFrame

from ..operators.partitioning import spread_over_cores


def string_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if f.dataType.simpleString() == "string"]


def cap_categories(
    df: DataFrame, cols: list[str], top_n: int = 256, other: str = "__other"
) -> DataFrame:
    """Bucket all but the ``top_n`` most frequent values of each column into
    ``other``. The scalable alternative to the reference's maxBins=40000
    brute force (price-prediction.py:401; SURVEY.md §7.4): tree learners get
    bounded bins regardless of corpus cardinality, and the top-value tables
    are tiny broadcasts."""
    from pyspark.sql import functions as F

    out = df
    for c in cols:
        top = (
            df.groupBy(c)
            .count()
            .orderBy(F.col("count").desc(), F.col(c))
            .limit(top_n)
            .select(F.col(c).alias("__top_v"))
            .withColumn("__keep", F.lit(True))
        )
        # NULL-SAFE membership: the plain name join never matched NULL
        # category values, so a 40%-NULL column was silently rewritten
        # to '__other' even when NULL ranked in the top-N — merging
        # missingness with rare categories and diverging from
        # StringIndexer handleInvalid='keep' semantics (r9 review)
        out = (
            out.join(
                F.broadcast(top),
                out[c].eqNullSafe(top["__top_v"]),
                "left",
            )
            .withColumn(c, F.when(F.col("__keep").isNull(), other).otherwise(F.col(c)))
            .drop("__keep", "__top_v")
        )
    return out


def index_categoricals(
    df: DataFrame, cols: list[str] | None = None, keep_original: bool = False
) -> tuple[DataFrame, PipelineModel]:
    """M1: StringIndexer over all (or given) string columns in ONE pass
    (multi-column indexer), replacing each column in place as the reference
    does (price-prediction.py:163-167)."""
    cols = cols if cols is not None else string_columns(df)
    if not cols:
        return df, Pipeline(stages=[]).fit(df)
    indexer = StringIndexer(
        inputCols=cols,
        outputCols=[f"{c}__idx" for c in cols],
        handleInvalid="keep",
    )
    model = Pipeline(stages=[indexer]).fit(df)
    out = model.transform(df)
    if not keep_original:
        for c in cols:
            out = out.drop(c).withColumnRenamed(f"{c}__idx", c)
    return out, model


def assemble_features(
    df: DataFrame, feature_cols: list[str], output_col: str = "features"
) -> DataFrame:
    """M2: VectorAssembler with handleInvalid='skip'
    (price-prediction.py:178-190)."""
    assembler = VectorAssembler(
        inputCols=feature_cols, outputCol=output_col, handleInvalid="skip"
    )
    return assembler.transform(df)


def build_feature_table(
    df: DataFrame, label_col: str, feature_cols: list[str] | None = None
) -> DataFrame:
    """End-to-end featurization: index categoricals → assemble → (label,
    features) table, the shape MLlib regressors train on
    (price-prediction.py:178-191).

    The table has at least ``defaultParallelism`` partitions
    (``operators.partitioning.spread_over_cores``). Callers cache it and
    every MLlib pass reads it again: the linear fit's aggregate, the
    trees' split search and one job per tree level, the evaluation. The
    reference's 1.4 GB CSV splits into many tasks per pass, but a
    one-row-group parquet input scans as one partition, and each of
    those passes would then run as one task on one core. A smaller
    count is raised by one round-robin shuffle; a larger one, or an
    adaptive plan sized by ``spark.sql.shuffle.partitions``, is kept."""
    candidates = feature_cols or [c for c in df.columns if c != label_col]
    cats = [c for c in candidates if dict(df.dtypes)[c] == "string"]
    indexed, _ = index_categoricals(df, cats)
    assembled = assemble_features(indexed, candidates)
    return spread_over_cores(assembled.select(label_col, "features"))
