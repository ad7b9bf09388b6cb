"""ML operators: the reference's model leg (SURVEY §2.10 M1-M7)
re-expressed for Spark.

- Deterministic split (M1): salted-hash flags — see
  operators/relational.split_train_test_counts for the oracle-checked
  protocol; ``with_split_flags`` is the reusable column form.
- Linear regression (M2): two ways —
  (a) closed-form OLS as a *query* (exact sufficient statistics →
      engine-independent coefficients; oracle-checkable, and at scale
      it's one map-side-combinable aggregate pass), and
  (b) MLlib ``VectorAssembler + LinearRegression(solver='normal')``
      (the production multi-feature path).
- Scoring (M3): ``model.transform`` on whole DataFrames/micro-batches
  — never per-row like the reference's consumer
  (`kafka/consumer.py:162-165,224`).
- Metrics (M4): functions/metrics.mae/rmse + r2 here.
- Scaling / one-hot (M5/M6): thin builders over ml.feature.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from workshop3_etl_spark.plans.registry import register
from workshop3_etl_spark.sources.tables import load_table


def with_split_flags(df: DataFrame, key_cols: list[str], seed: int = 42,
                     train_frac_hex: str = "b3") -> DataFrame:
    """Add reference-protocol is_train/is_test flags (M1/P6).

    Salted md5 of the row key: deterministic across runs and engines,
    map-only (no shuffle), any train fraction via the hex threshold
    (0x00..0xff; 'b3' ≈ 0.699). Replaces sklearn's permutation split
    (`src/train_model.py:26-28`) whose index-alignment trick
    (`kafka/producer.py:69-73`) doesn't distribute.
    """
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    is_train = F.substring(F.md5(F.concat(key, F.lit(f":{seed}"))), 1, 2) < train_frac_hex
    return df.withColumn("is_train", is_train.cast("int")).withColumn(
        "is_test", (~is_train).cast("int")
    )


# --------------------------------------------------------------------
# Closed-form simple OLS as an oracle-checked query: y = a + b*x over
# lineitem (y = extendedprice, x = quantity). beta = cov/var from
# centered exact-decimal sums; r2 = beta^2 * var_x / var_y. This IS
# model training as a single aggregate — the 100 TB-friendly form for
# low-dimensional regression.
# --------------------------------------------------------------------

_OLS_ORACLE = """
WITH m AS (
  SELECT
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(l_quantity AS decimal(27,2))) AS DOUBLE)
      / CAST(COUNT(*) AS DOUBLE) AS mx,
    CAST(SUM(CAST(l_extendedprice AS decimal(27,2))) AS DOUBLE)
      / CAST(COUNT(*) AS DOUBLE) AS my
  FROM lineitem
),
s AS (
  SELECT
    m.n AS n, m.mx AS mx, m.my AS my,
    CAST(SUM(CAST((CAST(l_quantity AS DOUBLE) - m.mx)
                  * (CAST(l_extendedprice AS DOUBLE) - m.my)
                  / CAST(m.n AS DOUBLE) AS decimal(27,6))) AS DOUBLE) AS cov_xy,
    CAST(SUM(CAST((CAST(l_quantity AS DOUBLE) - m.mx)
                  * (CAST(l_quantity AS DOUBLE) - m.mx)
                  / CAST(m.n AS DOUBLE) AS decimal(27,6))) AS DOUBLE) AS var_x,
    CAST(SUM(CAST((CAST(l_extendedprice AS DOUBLE) - m.my)
                  * (CAST(l_extendedprice AS DOUBLE) - m.my)
                  / CAST(m.n AS DOUBLE) AS decimal(27,6))) AS DOUBLE) AS var_y
  FROM lineitem, m
  GROUP BY m.n, m.mx, m.my
)
SELECT
  n,
  cov_xy / var_x AS beta,
  my - (cov_xy / var_x) * mx AS alpha,
  (cov_xy / var_x) * (cov_xy / var_x) * var_x / var_y AS r2
FROM s
"""


@register("ml_ols_qty_price", oracle=_OLS_ORACLE)
def ml_ols_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS of extendedprice on quantity (M2/M4 as a query)."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(F.col("l_quantity").cast("decimal(27,2)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mx"),
        (
            F.sum(F.col("l_extendedprice").cast("decimal(27,2)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("my"),
    )
    dx = F.col("l_quantity").cast("double") - F.col("mx")
    dy = F.col("l_extendedprice").cast("double") - F.col("my")
    nn = F.col("n").cast("double")
    s = (
        li.crossJoin(F.broadcast(m))
        .groupBy("n", "mx", "my")
        .agg(
            F.sum((dx * dy / nn).cast("decimal(27,6)")).cast("double").alias("cov_xy"),
            F.sum((dx * dx / nn).cast("decimal(27,6)")).cast("double").alias("var_x"),
            F.sum((dy * dy / nn).cast("decimal(27,6)")).cast("double").alias("var_y"),
        )
    )
    beta = F.col("cov_xy") / F.col("var_x")
    return s.select(
        "n",
        beta.alias("beta"),
        (F.col("my") - beta * F.col("mx")).alias("alpha"),
        (beta * beta * F.col("var_x") / F.col("var_y")).alias("r2"),
    )


# --------------------------------------------------------------------
# Two-regressor OLS via the closed-form normal equations (the next
# step up from the single-feature fit; still pure SQL — the 2x2
# normal-equation solve has an explicit determinant formula, so no
# linear-algebra library is needed and DuckDB can mirror it exactly).
# --------------------------------------------------------------------

_OLS2_MOMENTS_SQL = """
WITH j AS (
  SELECT CAST(l_quantity AS DOUBLE) AS x1,
         CAST(p_retailprice AS DOUBLE) AS x2,
         CAST(l_extendedprice AS DOUBLE) AS y,
         l_quantity, p_retailprice, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
m AS (
  SELECT
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(l_quantity AS decimal(27,2))) AS DOUBLE)
      / CAST(COUNT(*) AS DOUBLE) AS m1,
    CAST(SUM(CAST(p_retailprice AS decimal(27,2))) AS DOUBLE)
      / CAST(COUNT(*) AS DOUBLE) AS m2,
    CAST(SUM(CAST(l_extendedprice AS decimal(27,2))) AS DOUBLE)
      / CAST(COUNT(*) AS DOUBLE) AS my
  FROM j
),
s AS (
  SELECT
    m.n AS n, m.m1 AS m1, m.m2 AS m2, m.my AS my,
    CAST(SUM(CAST((x1 - m.m1) * (x1 - m.m1) / CAST(m.n AS DOUBLE)
                  AS decimal(27,6))) AS DOUBLE) AS s11,
    CAST(SUM(CAST((x2 - m.m2) * (x2 - m.m2) / CAST(m.n AS DOUBLE)
                  AS decimal(27,6))) AS DOUBLE) AS s22,
    CAST(SUM(CAST((x1 - m.m1) * (x2 - m.m2) / CAST(m.n AS DOUBLE)
                  AS decimal(27,6))) AS DOUBLE) AS s12,
    CAST(SUM(CAST((x1 - m.m1) * (y - m.my) / CAST(m.n AS DOUBLE)
                  AS decimal(27,6))) AS DOUBLE) AS s1y,
    CAST(SUM(CAST((x2 - m.m2) * (y - m.my) / CAST(m.n AS DOUBLE)
                  AS decimal(27,6))) AS DOUBLE) AS s2y,
    CAST(SUM(CAST((y - m.my) * (y - m.my) / CAST(m.n AS DOUBLE)
                  AS decimal(27,6))) AS DOUBLE) AS syy
  FROM j, m
  GROUP BY 1, 2, 3, 4
)
"""

_OLS2_ORACLE = _OLS2_MOMENTS_SQL + """
SELECT
  n,
  (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS beta1,
  (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS beta2,
  my - (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) * m1
     - (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) * m2 AS alpha,
  ((s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) * s1y
   + (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) * s2y) / syy AS r2
FROM s
"""


@register("ml_ols2_qty_retailprice", oracle=_OLS2_ORACLE)
def ml_ols2_qty_retailprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS: extendedprice ~ quantity + part retailprice.

    Closed-form 2x2 normal-equation solve over centered second
    moments; the moment sums are exact decimals scaled by 1/n (so
    their magnitude is SF-independent) and every post-aggregate op is
    the same IEEE double expression tree DuckDB evaluates. The join
    feeds the regression without materializing: one broadcast-or-
    shuffle join, one mean pass, one moment pass.
    """
    s = _ols2_moments(spark, sf_dir)
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = (F.col("s22") * F.col("s1y") - F.col("s12") * F.col("s2y")) / det
    b2 = (F.col("s11") * F.col("s2y") - F.col("s12") * F.col("s1y")) / det
    return s.select(
        "n",
        b1.alias("beta1"),
        b2.alias("beta2"),
        (F.col("my") - b1 * F.col("m1") - b2 * F.col("m2")).alias("alpha"),
        ((b1 * F.col("s1y") + b2 * F.col("s2y")) / F.col("syy")).alias("r2"),
    )


def _ols2_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact centered second moments of the (quantity, retailprice) ->
    extendedprice regression frame — shared by the OLS and ridge
    solves (one mean pass + one moment pass over the join)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice"
    )
    j = li.join(part, li.l_partkey == part.p_partkey)
    m = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(F.col("l_quantity").cast("decimal(27,2)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m1"),
        (
            F.sum(F.col("p_retailprice").cast("decimal(27,2)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m2"),
        (
            F.sum(F.col("l_extendedprice").cast("decimal(27,2)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("my"),
    )
    d1 = F.col("l_quantity").cast("double") - F.col("m1")
    d2 = F.col("p_retailprice").cast("double") - F.col("m2")
    dy = F.col("l_extendedprice").cast("double") - F.col("my")
    nn = F.col("n").cast("double")

    def mom(e, alias):
        return F.sum(e.cast("decimal(27,6)")).cast("double").alias(alias)

    s = (
        j.crossJoin(F.broadcast(m))
        .groupBy("n", "m1", "m2", "my")
        .agg(
            mom(d1 * d1 / nn, "s11"),
            mom(d2 * d2 / nn, "s22"),
            mom(d1 * d2 / nn, "s12"),
            mom(d1 * dy / nn, "s1y"),
            mom(d2 * dy / nn, "s2y"),
            mom(dy * dy / nn, "syy"),
        )
    )
    return s


# --------------------------------------------------------------------
# Ridge regression, closed form: same centered moments as OLS2, but
# the normal equations solve (S + λI)β = s_y — the L2-regularized
# fit, still an explicit 2x2 determinant formula. The intercept is
# not penalized (standard practice): centering first makes
# α = my - β·m exact.
# --------------------------------------------------------------------

_RIDGE_LAMBDA = 1000.0

_RIDGE2_ORACLE = _OLS2_MOMENTS_SQL + f"""
SELECT
  n,
  CAST({_RIDGE_LAMBDA} AS DOUBLE) AS lambda,
  ((s22 + {_RIDGE_LAMBDA}) * s1y - s12 * s2y)
    / ((s11 + {_RIDGE_LAMBDA}) * (s22 + {_RIDGE_LAMBDA}) - s12 * s12)
    AS beta1_ridge,
  ((s11 + {_RIDGE_LAMBDA}) * s2y - s12 * s1y)
    / ((s11 + {_RIDGE_LAMBDA}) * (s22 + {_RIDGE_LAMBDA}) - s12 * s12)
    AS beta2_ridge,
  my
  - ((s22 + {_RIDGE_LAMBDA}) * s1y - s12 * s2y)
    / ((s11 + {_RIDGE_LAMBDA}) * (s22 + {_RIDGE_LAMBDA}) - s12 * s12) * m1
  - ((s11 + {_RIDGE_LAMBDA}) * s2y - s12 * s1y)
    / ((s11 + {_RIDGE_LAMBDA}) * (s22 + {_RIDGE_LAMBDA}) - s12 * s12) * m2
    AS alpha_ridge
FROM s
"""


@register("ml_ridge2_qty_retailprice", oracle=_RIDGE2_ORACLE)
def ml_ridge2_qty_retailprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge (L2) regression of extendedprice on quantity +
    retailprice, closed form over the SAME exact centered moments as
    ml_ols2_qty_retailprice — only the solve changes: λ added to the
    covariance diagonal before the 2x2 determinant inversion.

    Because the moments are per-n-scaled exact decimals and the solve
    is one literal IEEE tree, the regularization path is bit-
    reproducible: rerunning with the same λ on any partitioning gives
    the same coefficients — the property a 100 TB hyperparameter
    sweep needs to be auditable.
    """
    s = _ols2_moments(spark, sf_dir)
    lam = F.lit(_RIDGE_LAMBDA)
    det = (F.col("s11") + lam) * (F.col("s22") + lam) - F.col("s12") * F.col(
        "s12"
    )
    b1 = ((F.col("s22") + lam) * F.col("s1y") - F.col("s12") * F.col("s2y")) / det
    b2 = ((F.col("s11") + lam) * F.col("s2y") - F.col("s12") * F.col("s1y")) / det
    return s.select(
        "n",
        lam.alias("lambda"),
        b1.alias("beta1_ridge"),
        b2.alias("beta2_ridge"),
        (F.col("my") - b1 * F.col("m1") - b2 * F.col("m2")).alias(
            "alpha_ridge"
        ),
    )


def r2(y_true: str, y_pred: str, mean_y: float, alias: str = "r2") -> Column:
    """R² = 1 - SS_res/NULLIF(SS_tot,0) — `Reporte_Tecnico.md:487-503`.

    ``mean_y`` comes from a prior exact-decimal pass (see
    operators/profile._mean_of) so the statistic is engine-independent.
    """
    res = F.col(y_true).cast("double") - F.col(y_pred).cast("double")
    tot = F.col(y_true).cast("double") - F.lit(mean_y)
    ss_res = F.sum((res * res).cast("decimal(27,6)")).cast("double")
    ss_tot = F.sum((tot * tot).cast("decimal(27,6)")).cast("double")
    return (
        F.lit(1.0) - ss_res / F.when(ss_tot != 0, ss_tot).otherwise(F.lit(None))
    ).alias(alias)


# --------------------------------------------------------------------
# MLlib pipeline (the production multi-feature path). Registered as a
# rows-only query (no SQL oracle — iterative/linear-algebra training
# isn't SQL); tests/test_ml.py cross-checks it against the
# closed-form result.
# --------------------------------------------------------------------

def build_linreg_pipeline(feature_cols: list[str], label_col: str):
    """VectorAssembler → LinearRegression('normal' solver) — the
    MLlib twin of the reference's sklearn fit (`src/train_model.py:
    30-31`). Returns an unfit Pipeline; persist fitted models with
    ``model.write().save(path)`` (S6's pickle replaced by the
    language-neutral MLlib format)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features")
    lr = LinearRegression(
        featuresCol="features",
        labelCol=label_col,
        predictionCol="prediction",
        solver="normal",  # deterministic closed-form; no SGD jitter
        regParam=0.0,
    )
    return Pipeline(stages=[assembler, lr])


# The MLlib row's oracle: MLlib solver floats are not bit-stable
# against a SQL engine, so the query SURFACES the closed-form
# normal-equation coefficients computed on the repo's strongest
# determinism canon — exact integer-cents RAW moments (floor canon,
# functions/canon.py; NO double->decimal rounding anywhere, the step
# whose half-up/half-even freedom drifted 1 ulp cross-engine in an
# earlier draft) followed by ONE shared IEEE double expression tree —
# plus a boolean per term asserting the MLlib 'normal'-solver fit
# agrees within rel 1e-6 (the established test_ml.py tolerance). The
# oracle recomputes the closed form and emits TRUE literals: a
# drifting MLlib fit flips the boolean and fails the hash compare, so
# the MLlib training path sits INSIDE the correctness gate without
# hashing solver floats.
#
# Units: q, d, y are all scaled x100 to integers (quantity-cents,
# discount-points, price-cents): y_c = 100a + b1*q_c + b2*d_c, so the
# slopes are the model's own b1/b2 and only the intercept divides by
# 100. Exactness bounds: every raw moment is an exact DECIMAL(38,0)
# integer; the double determinant arithmetic carries ~1e-14 relative
# error (mild cancellation only) — five orders under the 1e-6 gate.
_MLLIB_SPLIT_DUCK = (
    "substring(md5(concat_ws('|', CAST(l_orderkey AS VARCHAR),"
    " CAST(l_linenumber AS VARCHAR)) || ':42'), 1, 2) < 'b3'"
)

# engine-shared closed-form math over a cents frame {f}(q, d, y):
# raw moments -> centered determinant entries -> Cramer solve, every
# double step the identical expression tree in Spark and DuckDB.
_MLLIB_CLOSED_SQL = """
WITH mo AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_train,
         CAST(COUNT(*) AS DOUBLE) AS n,
         -- VARCHAR route: this SQL text runs verbatim in BOTH Spark
         -- and DuckDB; string->double parses are correctly rounded in
         -- both engines at any magnitude, while DuckDB's direct
         -- hugeint-decimal->double cast double-rounds past 2^64
         -- (canon.dec2dbl_duck rationale)
         CAST(CAST(SUM(CAST(q AS DECIMAL(38,0))) AS STRING) AS DOUBLE) AS sq,
         CAST(CAST(SUM(CAST(d AS DECIMAL(38,0))) AS STRING) AS DOUBLE) AS sd,
         CAST(CAST(SUM(CAST(y AS DECIMAL(38,0))) AS STRING) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(q * q AS DECIMAL(38,0))) AS STRING) AS DOUBLE)
           AS sqq,
         CAST(CAST(SUM(CAST(d * d AS DECIMAL(38,0))) AS STRING) AS DOUBLE)
           AS sdd,
         CAST(CAST(SUM(CAST(q * d AS DECIMAL(38,0))) AS STRING) AS DOUBLE)
           AS sqd,
         CAST(CAST(SUM(CAST(q * y AS DECIMAL(38,0))) AS STRING) AS DOUBLE)
           AS sqy,
         CAST(CAST(SUM(CAST(d * y AS DECIMAL(38,0))) AS STRING) AS DOUBLE)
           AS sdy
  FROM {f}
),
c AS (
  SELECT n_train,
         ((n * sdd - sd * sd) * (n * sqy - sq * sy)
          - (n * sqd - sq * sd) * (n * sdy - sd * sy))
         / ((n * sqq - sq * sq) * (n * sdd - sd * sd)
            - (n * sqd - sq * sd) * (n * sqd - sq * sd)) AS b1,
         ((n * sqq - sq * sq) * (n * sdy - sd * sy)
          - (n * sqd - sq * sd) * (n * sqy - sq * sy))
         / ((n * sqq - sq * sq) * (n * sdd - sd * sd)
            - (n * sqd - sq * sd) * (n * sqd - sq * sd)) AS b2,
         sq / n AS mq, sd / n AS md, sy / n AS my
  FROM mo
)
SELECT 'intercept' AS term,
       (my - b1 * mq - b2 * md) / 100e0 AS coefficient, n_train
FROM c
UNION ALL
SELECT 'l_discount', b2, n_train FROM c
UNION ALL
SELECT 'l_quantity', b1, n_train FROM c
ORDER BY term
"""

_MLLIB_ORACLE = (
    "WITH cf AS (\n"
    f"  SELECT {{q}} AS q, {{d}} AS d, {{y}} AS y\n"
    "  FROM lineitem\n"
    f"  WHERE {_MLLIB_SPLIT_DUCK}\n"
    "),\n"
    + _MLLIB_CLOSED_SQL.format(f="cf").lstrip()[len("WITH "):]
)


def _mllib_oracle() -> str:
    from workshop3_etl_spark.functions.canon import cents_sql

    base = _MLLIB_ORACLE.format(
        q=cents_sql("l_quantity"),
        d=cents_sql("l_discount"),
        y=cents_sql("l_extendedprice"),
    )
    # three term rows, each asserting the MLlib fit agreed
    return (
        "SELECT term, coefficient, n_train, TRUE AS mllib_within_tol"
        f" FROM ({base.replace('ORDER BY term', '')}) ORDER BY term"
    )


@register("ml_linreg_mllib_coefficients", oracle=_mllib_oracle())
def ml_linreg_mllib_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train MLlib linear regression (price ~ quantity + discount) on
    the salted-hash train split; surface the bit-stable CLOSED-FORM
    normal-equation coefficients per term plus a boolean asserting
    the MLlib fit agrees within rel 1e-6.

    The closed form runs the SAME SQL text (_MLLIB_CLOSED_SQL) in
    Spark and in the DuckDB oracle over identical integer-cents
    frames, so the surfaced doubles are bit-identical; the MLlib
    'normal' solver solves the same normal equations through its own
    linear algebra, agreeing to ~1e-12 but not hash-stably — the
    boolean is what puts the MLlib path inside the correctness gate
    (reference parity: src/train_model.py:30-31 sklearn fit).

    Scale: the closed form is ONE map-side-combinable aggregate over
    the train split (9 integer sums), then O(1) driver math — the
    100 TB-friendly form; MLlib's normal solver aggregates the same
    Gram matrix distributively.
    """
    from workshop3_etl_spark.functions.canon import cents_sql

    li = with_split_flags(
        load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_linenumber"],
    ).filter(F.col("is_train") == 1)

    cents = li.selectExpr(
        f"{cents_sql('l_quantity')} as q",
        f"{cents_sql('l_discount')} as d",
        f"{cents_sql('l_extendedprice')} as y",
    )
    view = "mllib_train_cents_v"
    cents.createOrReplaceTempView(view)
    closed = {
        r["term"]: r
        for r in spark.sql(_MLLIB_CLOSED_SQL.format(f=view)).collect()
    }

    model = build_linreg_pipeline(
        ["l_quantity", "l_discount"], "l_extendedprice"
    ).fit(li)
    lr_model = model.stages[-1]
    mllib = {
        "intercept": float(lr_model.intercept),
        "l_quantity": float(lr_model.coefficients[0]),
        "l_discount": float(lr_model.coefficients[1]),
    }

    def ok(term: str) -> bool:
        c = closed[term]["coefficient"]
        return abs(mllib[term] - c) <= 1e-6 * max(1.0, abs(c))

    rows = [
        (t, closed[t]["coefficient"], closed[t]["n_train"], ok(t))
        for t in ("intercept", "l_discount", "l_quantity")
    ]
    return spark.createDataFrame(
        rows,
        "term string, coefficient double, n_train long,"
        " mllib_within_tol boolean",
    )


# --------------------------------------------------------------------
# Feature engineering builders (M5/M6) and the outlier-treatment
# model-comparison harness (M7).
# --------------------------------------------------------------------

def build_scaler(kind: str = "standard", input_col: str = "features",
                 output_col: str = "features_scaled"):
    """M5: Standard or MinMax scaling over an assembled vector —
    the reference's toggleable scaler (`notebooks/EDA.ipynb:909-935`).
    Both fit one pass of column stats then apply map-only."""
    from pyspark.ml.feature import MinMaxScaler, StandardScaler

    if kind == "standard":
        return StandardScaler(
            inputCol=input_col, outputCol=output_col, withMean=True, withStd=True
        )
    if kind == "minmax":
        return MinMaxScaler(inputCol=input_col, outputCol=output_col)
    raise ValueError(f"unknown scaler kind {kind!r}")


def build_one_hot(input_col: str, output_col: str):
    """M6: StringIndexer + OneHotEncoder(dropLast=True) — dropLast
    mirrors pd.get_dummies(drop_first=True)
    (`notebooks/EDA.ipynb:753-755`)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import OneHotEncoder, StringIndexer

    idx = StringIndexer(
        inputCol=input_col, outputCol=f"{input_col}_idx", handleInvalid="keep"
    )
    ohe = OneHotEncoder(
        inputCols=[f"{input_col}_idx"], outputCols=[output_col], dropLast=True
    )
    return Pipeline(stages=[idx, ohe])


def compare_outlier_treatments(
    df: DataFrame, feature_cols: list[str], label_col: str,
    key_cols: list[str], seed: int = 42,
) -> DataFrame:
    """M7: retrain under baseline vs winsorized vs IQR-dropped
    features and compare test R²/MAE/RMSE — the EDA notebook's
    experiment matrix (`notebooks/EDA.ipynb:1513-1684`, cells 17-20).

    Quantile fences come from ONE exact-percentile pass per variant;
    clipping/filtering is map-only; each variant is an independent
    lazy plan so Spark schedules them without materializing
    intermediates.
    """
    from pyspark.ml.evaluation import RegressionEvaluator

    def quantiles(frame: DataFrame, probs: list[float]) -> dict[str, list[float]]:
        aggs = []
        for c in feature_cols:
            arr = ", ".join(str(p) for p in probs)
            aggs.append(F.expr(f"percentile(cast(`{c}` as double), array({arr}))").alias(c))
        row = frame.agg(*aggs).collect()[0]
        return {c: list(row[c]) for c in feature_cols}

    def winsorize(frame: DataFrame) -> DataFrame:
        q = quantiles(frame, [0.01, 0.99])
        for c in feature_cols:
            lo, hi = q[c]
            frame = frame.withColumn(
                c, F.greatest(F.lit(lo), F.least(F.lit(hi), F.col(c)))
            )
        return frame

    def drop_iqr(frame: DataFrame) -> DataFrame:
        q = quantiles(frame, [0.25, 0.75])
        cond = F.lit(True)
        for c in feature_cols:
            q1, q3 = q[c]
            lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
            cond = cond & (F.col(c).between(lo, hi) | F.col(c).isNull())
        return frame.filter(cond)

    variants = {
        "baseline": df,
        "winsorize_1_99": winsorize(df),
        "drop_iqr_1_5": drop_iqr(df),
    }
    rows = []
    for name, frame in variants.items():
        flagged = with_split_flags(frame, key_cols, seed)
        train = flagged.filter(F.col("is_train") == 1)
        test = flagged.filter(F.col("is_test") == 1)
        model = build_linreg_pipeline(feature_cols, label_col).fit(train)
        scored = model.transform(test)
        evaluator = RegressionEvaluator(
            labelCol=label_col, predictionCol="prediction"
        )
        rows.append(
            (
                name,
                test.count(),
                evaluator.setMetricName("r2").evaluate(scored),
                evaluator.setMetricName("mae").evaluate(scored),
                evaluator.setMetricName("rmse").evaluate(scored),
            )
        )
    spark = df.sparkSession
    return spark.createDataFrame(
        rows, "variant string, n_test long, r2 double, mae double, rmse double"
    )


# --------------------------------------------------------------------
# M5/M6 as ORACLED queries. build_scaler/build_one_hot (above) are the
# MLlib vector pipelines; their outputs are vector-typed and thus not
# SQL-comparable. These queries express the SAME math relationally so
# the driver's DuckDB gate verifies the scaling/encoding semantics
# bit-for-bit.
# --------------------------------------------------------------------

_SCALING_ORACLE = """
WITH f AS (
  SELECT l_returnflag, l_orderkey, l_linenumber,
         CAST(l_extendedprice AS DOUBLE) AS x,
         cast(floor(l_extendedprice * 100e0 + 0.5e0) as bigint) AS xc
  FROM lineitem
),
g AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         MIN(x) AS mn, MAX(x) AS mx,
         CAST(SUM(xc) AS BIGINT) AS s,
         SUM(CAST(xc AS decimal(38,0)) * xc) AS q
  FROM f GROUP BY l_returnflag
),
p AS (
  SELECT l_returnflag, mn, mx,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean,
         -- q crosses 2^64 at sf0.1: VARCHAR route keeps DuckDB's
         -- double conversion correctly rounded (canon.dec2dbl_duck)
         SQRT((CAST(CAST(q AS VARCHAR) AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              / CAST(n AS DOUBLE) / 10000.0) AS std_pop
  FROM g
),
r AS (
  SELECT f.*, ROW_NUMBER() OVER (
    PARTITION BY f.l_returnflag ORDER BY f.l_orderkey, f.l_linenumber
  ) AS rn
  FROM f
)
SELECT
  r.l_returnflag, r.l_orderkey, r.l_linenumber, r.x,
  (r.x - p.mn) / (p.mx - p.mn) AS x_minmax,
  (r.x - p.mean) / p.std_pop AS x_zscore
FROM r JOIN p ON r.l_returnflag = p.l_returnflag
WHERE r.rn <= 5
ORDER BY r.l_returnflag, r.l_orderkey, r.l_linenumber
"""


@register("ml_scaling_minmax_zscore", oracle=_SCALING_ORACLE)
def ml_scaling_minmax_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 relationally: per-returnflag min-max and z-score scaling
    parameters fitted in one aggregate (integer-cents moments, exact),
    applied to a deterministic 5-row sample per group.

    Mirrors build_scaler's StandardScaler(withMean)/MinMaxScaler math
    without the vector type, so the driver gate checks it. Fit is one
    scan; apply is map-only against the broadcast parameter frame —
    the 100 TB shape (parameters are O(groups), never collected).
    """
    from pyspark.sql import Window

    f = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("double").alias("x"),
        F.expr(
            "cast(floor(l_extendedprice * 100e0 + 0.5e0) as bigint)"
        ).alias("xc"),
    )
    g = f.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.sum("xc").cast("long").alias("s"),
        F.sum(F.col("xc").cast("decimal(38,0)") * F.col("xc")).alias("q"),
    )
    p = g.select(
        "l_returnflag",
        "mn",
        "mx",
        (F.col("s").cast("double") / F.col("n").cast("double") / 100.0).alias(
            "mean"
        ),
        F.sqrt(
            (
                F.col("q").cast("double")
                - F.col("s").cast("double")
                * F.col("s").cast("double")
                / F.col("n").cast("double")
            )
            / F.col("n").cast("double")
            / 10000.0
        ).alias("std_pop"),
    )
    w = Window.partitionBy("l_returnflag").orderBy("l_orderkey", "l_linenumber")
    r = f.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    return (
        r.join(F.broadcast(p), "l_returnflag")
        .select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            "x",
            ((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn"))).alias(
                "x_minmax"
            ),
            ((F.col("x") - F.col("mean")) / F.col("std_pop")).alias("x_zscore"),
        )
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    )


_ONEHOT_ORACLE = """
WITH c AS (
  SELECT c_mktsegment AS category, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM customer GROUP BY c_mktsegment
),
ranked AS (
  SELECT a.category, a.n_rows,
         CAST((SELECT COUNT(*) FROM c b
               WHERE b.n_rows > a.n_rows
                  OR (b.n_rows = a.n_rows AND b.category < a.category))
              AS BIGINT) AS idx
  FROM c a
)
SELECT category, idx, n_rows,
       idx = (SELECT MAX(idx) FROM ranked) AS is_dropped
FROM ranked
ORDER BY idx
"""


@register("ml_onehot_mktsegment_table", oracle=_ONEHOT_ORACLE)
def ml_onehot_mktsegment_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 relationally: the StringIndexer+OneHotEncoder(dropLast)
    category table — frequency-descending index (ties alphabetical,
    matching StringIndexer's frequencyDesc), least-frequent category
    dropped, per-category row counts.

    The index is computed by a broadcast self-join count on the tiny
    category frame (no global window); summing the encoded dummy
    columns over the data would reproduce exactly n_rows per
    undropped category, which is what this table asserts.
    """
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("category"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .persist()
    )
    b = c.select(
        F.col("category").alias("b_cat"), F.col("n_rows").alias("b_n")
    )
    ranked = (
        c.crossJoin(F.broadcast(b))
        .groupBy("category", "n_rows")
        .agg(
            F.sum(
                F.when(
                    (F.col("b_n") > F.col("n_rows"))
                    | (
                        (F.col("b_n") == F.col("n_rows"))
                        & (F.col("b_cat") < F.col("category"))
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("idx")
        )
    )
    max_idx = ranked.agg(F.max("idx").alias("mi"))
    result = (
        ranked.crossJoin(F.broadcast(max_idx))
        .select(
            "category",
            "idx",
            "n_rows",
            (F.col("idx") == F.col("mi")).alias("is_dropped"),
        )
        .orderBy("idx")
    )
    from workshop3_etl_spark.functions.cache import materialize_and_release

    return materialize_and_release(result, c)


_TARGET_ENC_SMOOTHING = 20  # pseudo-observations of the global mean

_TARGET_ENC_ORACLE = f"""
WITH g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(CAST(c_acctbal AS decimal(27,2))) AS DOUBLE) AS s_all
  FROM customer
),
c AS (
  SELECT c_mktsegment AS category,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(c_acctbal AS decimal(27,2))) AS DOUBLE) AS s_cat
  FROM customer GROUP BY c_mktsegment
)
SELECT
  c.category,
  c.n_rows,
  c.s_cat / CAST(c.n_rows AS DOUBLE) AS raw_mean,
  (c.s_cat + {_TARGET_ENC_SMOOTHING}.0
             * (g.s_all / CAST(g.n_all AS DOUBLE)))
    / (CAST(c.n_rows AS DOUBLE) + {_TARGET_ENC_SMOOTHING}.0)
    AS encoded_value
FROM c CROSS JOIN g
ORDER BY c.category
"""


@register("ml_target_encode_mktsegment", oracle=_TARGET_ENC_ORACLE)
def ml_target_encode_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of c_mktsegment against account
    balance: (sum_cat + m·global_mean) / (n_cat + m) with m pseudo-
    observations — the high-cardinality-categorical alternative to
    one-hot (M6) that stays a single aggregate at any cardinality.

    Two tiny aggregates (global + per-category exact decimal sums)
    and identical IEEE division trees; applying the encoding to rows
    is then a broadcast map-only join. Unseen categories at serve
    time fall back to the global mean by construction.
    """
    cust = load_table(spark, sf_dir, "customer")
    g = cust.agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.col("c_acctbal").cast("decimal(27,2)")).cast("double").alias(
            "s_all"
        ),
    )
    c = cust.groupBy(F.col("c_mktsegment").alias("category")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("c_acctbal").cast("decimal(27,2)")).cast("double").alias(
            "s_cat"
        ),
    )
    m = float(_TARGET_ENC_SMOOTHING)
    return (
        c.crossJoin(F.broadcast(g))
        .select(
            "category",
            "n_rows",
            (F.col("s_cat") / F.col("n_rows").cast("double")).alias("raw_mean"),
            (
                (
                    F.col("s_cat")
                    + F.lit(m) * (F.col("s_all") / F.col("n_all").cast("double"))
                )
                / (F.col("n_rows").cast("double") + F.lit(m))
            ).alias("encoded_value"),
        )
        .orderBy("category")
    )


_CALIB_ORACLE = f"""
WITH coef AS ({_OLS2_ORACLE}),
scored AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS y,
         l_extendedprice,
         coef.alpha + coef.beta1 * CAST(l_quantity AS DOUBLE)
                    + coef.beta2 * CAST(p_retailprice AS DOUBLE) AS pred
  FROM lineitem JOIN part ON l_partkey = p_partkey CROSS JOIN coef
),
b AS (
  SELECT
    {", ".join(
        f"quantile_cont(pred, {i / 10}) AS b{i}" for i in range(1, 10)
    )}
  FROM scored
)
SELECT
  ({" + ".join(f"CAST(pred > b.b{i} AS INT)" for i in range(1, 10))})
    AS bucket_id,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(l_extendedprice AS decimal(27,2))) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS avg_y,
  MIN(pred) AS lo_pred,
  MAX(pred) AS hi_pred
FROM scored CROSS JOIN b
GROUP BY 1
ORDER BY bucket_id
"""


@register("ml_calibration_deciles_ols2", oracle=_CALIB_ORACLE)
def ml_calibration_deciles_ols2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model calibration table: score every row with the closed-form
    two-feature OLS, bucket by prediction decile, report actual mean
    label and the prediction range per bucket — a monotone avg_y
    staircase is the 'model ranks correctly' check.

    The coefficient frame (1 row) broadcasts into a map-only scoring
    pass; decile boundaries are one exact-percentile aggregate over
    the scored frame (persisted — scored twice, computed once); avg_y
    uses the exact-decimal sum, and the prediction column is only ever
    MIN/MAX'd (selection, not summation), keeping every output value
    bit-identical.
    """
    coef = ml_ols2_qty_retailprice(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(
        F.broadcast(part), li["l_partkey"] == part["p_partkey"]
    )
    pred = (
        F.col("alpha")
        + F.col("beta1") * F.col("l_quantity").cast("double")
        + F.col("beta2") * F.col("p_retailprice").cast("double")
    )
    scored = (
        j.crossJoin(F.broadcast(coef))
        .select("l_extendedprice", pred.alias("pred"))
        .persist()
    )
    b = scored.agg(
        *[
            F.expr(f"percentile(pred, {i / 10})").alias(f"b{i}")
            for i in range(1, 10)
        ]
    )
    bucket = None
    for i in range(1, 10):
        t = (F.col("pred") > F.col(f"b{i}")).cast("int")
        bucket = t if bucket is None else bucket + t
    result = (
        scored.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.sum(F.col("l_extendedprice").cast("decimal(27,2)"))
                .cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_y"),
            F.min("pred").alias("lo_pred"),
            F.max("pred").alias("hi_pred"),
        )
        .orderBy("bucket_id")
    )
    from workshop3_etl_spark.functions.cache import materialize_and_release

    return materialize_and_release(result, scored)


# --------------------------------------------------------------------
# Group-aware split + leakage audit: rows split by GROUP key, proven
# leak-free from the data (not assumed from the construction).
# --------------------------------------------------------------------

_GROUP_SPLIT_ORACLE = """
WITH e AS (
  SELECT user_id,
         CASE WHEN substring(
                md5(CAST(user_id AS VARCHAR) || ':42'), 1, 2) < 'b3'
              THEN 1 ELSE 0 END AS is_train
  FROM events
),
per_user AS (
  SELECT user_id,
         CAST(SUM(is_train) AS BIGINT) AS n_train_ev,
         CAST(SUM(1 - is_train) AS BIGINT) AS n_test_ev
  FROM e GROUP BY user_id
)
SELECT
  CAST(SUM(CASE WHEN n_test_ev = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_train_users,
  CAST(SUM(CASE WHEN n_train_ev = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_test_users,
  CAST(SUM(CASE WHEN n_train_ev > 0 AND n_test_ev > 0 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_leaked_users,
  CAST(SUM(n_train_ev) AS BIGINT) AS n_train_events,
  CAST(SUM(n_test_ev) AS BIGINT) AS n_test_events
FROM per_user
"""


@register("ml_group_split_no_leakage", oracle=_GROUP_SPLIT_ORACLE)
def ml_group_split_no_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/test split over events with a leakage AUDIT:
    rows are assigned by the salted-md5 protocol keyed on user_id (the
    GROUP — every row of a user lands in one side), and the audit
    recomputes per-user membership from the assigned rows to count
    users seen in both sides. The count is surfaced, not asserted —
    a regression in the split key (e.g. keying on event_id) flips
    n_leaked_users from 0 and fails the hash gate.

    Row-level random splits leak entity-correlated signal between
    train and test (the GroupKFold rationale); keying the hash on the
    group is the distributed-scale fix — map-only assignment, one
    user-keyed groupBy for the audit, 1-row result.
    """
    from workshop3_etl_spark.sources.tables import load_table

    # the module's split protocol, keyed on the GROUP column only —
    # one definition of (seed, threshold, hash shape) for the repo
    flagged = with_split_flags(
        load_table(spark, sf_dir, "events").select("user_id"), ["user_id"]
    )
    per_user = (
        flagged.select("user_id", "is_train")
        .groupBy("user_id")
        .agg(
            F.sum("is_train").cast("long").alias("n_train_ev"),
            F.sum(1 - F.col("is_train")).cast("long").alias("n_test_ev"),
        )
    )
    return per_user.agg(
        F.sum((F.col("n_test_ev") == 0).cast("int")).cast("long")
        .alias("n_train_users"),
        F.sum((F.col("n_train_ev") == 0).cast("int")).cast("long")
        .alias("n_test_users"),
        F.sum(
            ((F.col("n_train_ev") > 0) & (F.col("n_test_ev") > 0)).cast("int")
        ).cast("long").alias("n_leaked_users"),
        F.sum("n_train_ev").cast("long").alias("n_train_events"),
        F.sum("n_test_ev").cast("long").alias("n_test_events"),
    )


# --------------------------------------------------------------------
# Distributed k-means TRAINER (Lloyd's algorithm) over the embeddings
# corpus — the in-engine capability behind operators/ivf_centroids.py
# (which ships a pyspark.ml KMeans result frozen as a literal
# artifact: correct for oracle-ability, but a real 100 TB pipeline
# trains its coarse quantizer in-engine). The whole recurrence runs
# on an INTEGER GRID — every coordinate is floor(x * 2^21) — so each
# Lloyd step is exact integer arithmetic: assignment distances are
# bigint sums (order-independent under any partitioning), and the
# centroid update is an integer sum + count with one double-domain
# floor division (the repo's engine-stable floor canon). No float
# accumulation anywhere => bit-identical in Spark and DuckDB with no
# sequential-fold ordering constraints at all (the trick the
# PageRank/LPA integer-token family established, applied to
# clustering).
#
# Spark shape per iteration: assignment is a MAP-ONLY pass (corpus x
# 16 in-expression literal centroids — the exact broadcast-encode
# pattern of similarity.py sim_ann_ivf_topk, collapsed to literals
# the way MLlib's own KMeans broadcasts driver-held centers each
# round); the update is ONE shuffle of (cell, dim, grid-int) pairs
# into a K*D-group aggregate (map-side combinable integer sums).
# Iterations 1..ITERS-1 collect the K=16-row centroid frame to the
# driver (K*D ints — the standard driver-held-centers protocol);
# the FINAL iteration stays fully distributed: the returned plan IS
# the last Lloyd step (assign -> posexplode -> groupBy -> floor-div
# merge against the previous-centroid spine), so empty cells keep
# their previous centroid with n_members = 0.
#
# Seeding is deterministic and engine-shared: the K vectors with the
# smallest multiplicative-hash rank h = ((vec_id % 1048573) *
# 2654435761) % 1000003 (ties by vec_id), cell = rank order. The
# inner mod keeps the product far under 2^63 at any corpus size.
# Reference parity: the reference has no clustering operator; this
# extends its model leg (src/train_model.py) the way a training-data
# pipeline needs at scale (quantizer training for the ANN family).
# --------------------------------------------------------------------

_KM_K = 16  # cells (matches the frozen IVF quantizer)
_KM_DIM = 64  # embedding dimensionality
_KM_ITERS = 3  # unrolled Lloyd steps (oracle mirrors exactly)
_KM_GRID = 2097152  # 2^21: grid units per 1.0 of embedding space
_KM_H_MOD1 = 1048573  # seed hash: inner mod (largest prime < 2^20)
_KM_H_MUL = 2654435761  # Knuth's multiplicative constant
_KM_H_MOD2 = 1000003  # seed hash: outer mod

_KM_GRID_SPARK = (
    f"transform(embedding, x -> cast(floor(cast(x as double)"
    f" * {_KM_GRID}.0) as bigint))"
)
_KM_SEED_H = (
    f"((vec_id % {_KM_H_MOD1}) * {_KM_H_MUL}) % {_KM_H_MOD2}"
)


def _km_grid_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, g: array<bigint>) — the integer-grid corpus, the one
    frame every Lloyd pass re-reads (callers persist it).

    scan_parallel was TRIED here and reverted (interleaved A/B:
    6.8-8.7s bare vs 8.0-12.0s repartitioned on the Lloyd trainer,
    wash on the silhouette pass): the trainer is a multi-stage
    driver-held-centroid loop whose per-stage scheduling dominates;
    widening the tiny cached grid frame only multiplied shuffle
    blocks."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.expr(f"size(embedding) = {_KM_DIM}"))
        .selectExpr("vec_id", f"{_KM_GRID_SPARK} as g")
    )


def _km_assign(g: DataFrame, cents: list[list[int]]) -> DataFrame:
    """Map-only Lloyd assignment against driver-held centroids:
    per-row bigint distance fold to each of the K literal grid
    centroids, argmin = first index of the exact integer minimum
    (ties -> lowest cell, mirrored by the oracle's ORDER BY dist2,
    cell)."""
    folds = ", ".join(
        "aggregate(zip_with(g, array("
        + ", ".join(f"{int(v)}L" for v in c)
        + "), (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
        for c in cents
    )
    return (
        g.selectExpr("vec_id", "g", f"array({folds}) as ds")
        .selectExpr(
            "vec_id",
            "g",
            "cast(array_position(ds, array_min(ds)) - 1 as int) as cell",
            "array_min(ds) as dist2",
        )
    )


def _km_update_sums(assigned: DataFrame) -> DataFrame:
    """The one shuffle of a Lloyd step: (cell, dim, grid value) pairs
    into a K*D-group integer aggregate (map-side combinable)."""
    return (
        assigned.select(
            "cell", F.posexplode("g").alias("pos", "val")
        )
        .groupBy("cell", "pos")
        .agg(
            F.sum("val").alias("s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .selectExpr("cell", "cast(pos + 1 as int) as dim", "s", "n")
    )


def _km_lloyd_step_arrow(g: DataFrame, cents: list[list[int]]) -> DataFrame:
    """One Lloyd step's update sums — (cell, dim, s, n), the exact
    integers `_km_update_sums(_km_assign(g, cents))` produces — as
    ONE Arrow batch pass (r11 session 2, guide §2.3 + §4.2): the
    former chain evaluated K interpreted bigint distance folds per
    row (higher-order functions, the measured ~6 us/node dispatch
    class) and shuffled a K*D posexplode; here every quantity is
    exact int64 numpy arithmetic (grid values < 2^22 so squared
    diffs < 2^44 and a 64-dim sum < 2^50; per-batch column sums of
    < 2^22 values stay far under 2^63), argmin ties resolve to the
    LOWEST cell exactly like array_position(ds, array_min(ds)), and
    only K*D partial rows per batch reach the shuffle. Sums of
    integer partials are order-independent, so the merged aggregate
    is identical integer for integer (pinned by
    tests/test_r11_optimizations.py)."""
    import numpy as np

    from workshop3_etl_spark.functions.arrow_kernel import (
        map_batches,
        vectors,
    )

    C = np.asarray(cents, dtype=np.int64)  # (K, D)

    def _step_batches(batch):
        G = vectors(batch, "g", np.int64)
        d = (G[:, None, :] - C[None, :, :]).astype(np.int64)
        dist2 = np.einsum("mkd,mkd->mk", d, d)
        cell = dist2.argmin(axis=1)  # first min = lowest cell
        k, dimn = C.shape
        s = np.zeros((k, dimn), dtype=np.int64)
        n = np.zeros(k, dtype=np.int64)
        np.add.at(s, cell, G)
        np.add.at(n, cell, 1)
        hit = n > 0
        cells = np.nonzero(hit)[0]
        return [
            np.repeat(cells, dimn),
            np.tile(np.arange(1, dimn + 1), len(cells)),
            s[hit].reshape(-1),
            np.repeat(n[hit], dimn),
        ]

    part = map_batches(
        g, ["g"], "cell int, dim int, s bigint, n bigint", _step_batches
    )
    return part.groupBy("cell", "dim").agg(
        F.sum("s").alias("s"), F.sum("n").cast("long").alias("n")
    )


def _km_seed_cents(g: DataFrame, k: int) -> list[list[int]]:
    """Deterministic seeding: the k corpus vectors with the smallest
    multiplicative-hash rank (ties by vec_id), as grid-int lists;
    cell id = rank order."""
    seed_rows = (
        g.selectExpr("vec_id", "g", f"{_KM_SEED_H} as h")
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()
    )
    seed_rows.sort(key=lambda r: (r["h"], r["vec_id"]))
    return [[int(v) for v in r["g"]] for r in seed_rows]


def _km_update_collect(
    g: DataFrame, cents: list[list[int]]
) -> list[list[int]]:
    """One Lloyd step with the K-row centroid frame collected back to
    the driver (the MLlib driver-held-centers protocol); empty cells
    keep their previous centroid."""
    asm = (
        _km_lloyd_step_arrow(g, cents)
        .selectExpr(
            "cell",
            "dim",
            # double-domain floor division: engine-stable (never
            # integer `div`, whose negative semantics diverge
            # across engines)
            "cast(floor(cast(s as double) / cast(n as double))"
            " as bigint) as cg",
        )
        .groupBy("cell")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, cg))),"
                " t -> t.cg)"
            ).alias("cg_arr")
        )
        .collect()
    )
    new = {int(r["cell"]): [int(v) for v in r["cg_arr"]] for r in asm}
    return [new.get(k, cents[k]) for k in range(len(cents))]


def kmeans_lloyd_grid(
    spark: SparkSession,
    sf_dir: str,
    iters: int = _KM_ITERS,
) -> tuple[list[list[list[int]]], DataFrame]:
    """Train k-means on the integer grid: returns (history, final_df)
    where history[i] is the K x DIM grid-centroid list BEFORE step
    i+1 (history[0] = seeds), and final_df is the fully-distributed
    LAST Lloyd step — (cell, dim, centroid_grid, n_members) long
    format, ordered, with empty cells keeping their previous centroid
    at n_members = 0. The grid frame is persisted here and released
    when final_df materializes (materialize_and_release contract)."""
    from workshop3_etl_spark.functions.cache import materialize_and_release

    g = _km_grid_frame(spark, sf_dir).persist()
    cents = _km_seed_cents(g, _KM_K)
    history = [cents]
    for _ in range(iters - 1):
        cents = _km_update_collect(g, cents)
        history.append(cents)
    # final step stays distributed: previous-centroid spine (K*D
    # literal ints, broadcast class) left-joined with this step's
    # update sums — empty cells fall back to the spine
    spine = spark.createDataFrame(
        [
            (k, d + 1, cents[k][d])
            for k in range(_KM_K)
            for d in range(_KM_DIM)
        ],
        "cell int, dim int, prev_cg long",
    )
    upd = _km_lloyd_step_arrow(g, cents)
    out = (
        spine.join(F.broadcast(upd), ["cell", "dim"], "left")
        .selectExpr(
            "cell",
            "dim",
            "coalesce(cast(floor(cast(s as double) / cast(n as double))"
            " as bigint), prev_cg) as centroid_grid",
            "coalesce(n, 0L) as n_members",
        )
        .orderBy("cell", "dim")
    )
    return history, materialize_and_release(out, g)


# shared corpus CTEs for every k-means oracle (grid corpus, dim
# spine, long form)
_KM_BASE_CTES = f"""gv AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(FLOOR(CAST(x AS DOUBLE) * {_KM_GRID}.0) AS BIGINT)) AS g
  FROM embeddings WHERE len(embedding) = {_KM_DIM}
),
dims AS (SELECT CAST(unnest(range(1, {_KM_DIM} + 1)) AS INT) AS dim),
glong AS (
  SELECT vec_id, d.dim, g[d.dim] AS val FROM gv, dims d
)"""


def _km_chain_ctes(k: int, sfx: str = "", iters: int = _KM_ITERS) -> str:
    """The unrolled Lloyd recurrence for a given K as chained CTEs
    (names suffixed so several K values can share one oracle):
    seeds{sfx}, c0{sfx}, a1{sfx}..c{iters}{sfx}."""
    parts = [
        f"""seeds{sfx} AS (
  SELECT g, CAST(rn - 1 AS INT) AS cell FROM (
    SELECT g, ROW_NUMBER() OVER (
      ORDER BY {_KM_SEED_H}, vec_id) AS rn
    FROM gv
  ) WHERE rn <= {k}
),
c0{sfx} AS (
  SELECT s.cell, d.dim, s.g[d.dim] AS cg FROM seeds{sfx} s, dims d
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
a{i}{sfx} AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY dist2, cell) AS rn
    FROM (
      SELECT gg.vec_id, c.cell,
             SUM((gg.val - c.cg) * (gg.val - c.cg)) AS dist2
      FROM glong gg JOIN c{i - 1}{sfx} c USING (dim)
      GROUP BY gg.vec_id, c.cell
    )
  ) WHERE rn = 1
),
u{i}{sfx} AS (
  SELECT a.cell, gg.dim,
         CAST(SUM(gg.val) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM a{i}{sfx} a JOIN glong gg USING (vec_id)
  GROUP BY a.cell, gg.dim
),
c{i}{sfx} AS (
  SELECT p.cell, p.dim,
         COALESCE(CAST(FLOOR(CAST(u.s AS DOUBLE) / CAST(u.n AS DOUBLE))
                       AS BIGINT), p.cg) AS cg,
         CAST(COALESCE(u.n, 0) AS BIGINT) AS n_members
  FROM c{i - 1}{sfx} p LEFT JOIN u{i}{sfx} u USING (cell, dim)
)"""
        )
    return "".join(parts)


def _kmeans_oracle() -> str:
    return f"""WITH {_KM_BASE_CTES},
{_km_chain_ctes(_KM_K)}
SELECT cell, dim, cg AS centroid_grid, n_members
FROM c{_KM_ITERS}
ORDER BY cell, dim"""


@register("ml_kmeans_lloyd_embeddings", oracle=_kmeans_oracle())
def ml_kmeans_lloyd_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """K=16 k-means trained IN-ENGINE on the embeddings corpus: 3
    unrolled Lloyd steps on the floor(x * 2^21) integer grid from a
    deterministic multiplicative-hash seeding, output = the trained
    grid centroids in long format (cell, dim, centroid_grid,
    n_members). Matched against an unrolled chained-CTE oracle
    computing the identical integer recurrence (the
    graph_pagerank_copurchase recipe applied to clustering). See the
    module-level design comment for the per-iteration plan shape and
    100 TB story."""
    _, out = kmeans_lloyd_grid(spark, sf_dir)
    return out


# --------------------------------------------------------------------
# K-sweep model selection (the elbow curve): train the grid k-means
# at K = 4, 8, 16 and score each trained quantizer on the corpus —
# the capability that turns the trainer into a quantizer-selection
# pipeline (train -> sweep -> freeze, completing the ANN family's
# build story). Inertia is surfaced as the per-point MEAN grid
# distance (floor(total / n)): the mean is bounded by the per-point
# distance bound (< 2^50) at ANY corpus size, so the output stays
# int64-safe where a raw total would not; the internal total is
# summed in decimal(38,0) (Spark) / hugeint (DuckDB) — exact, no
# overflow — and the positive sub-2^64 double casts are the
# single-rounding case both engines share (functions/canon rule).
# --------------------------------------------------------------------

_KM_ELBOW_KS = (4, 8, 16)


def _km_elbow_oracle() -> str:
    chains = ",\n".join(
        _km_chain_ctes(k, sfx=f"_k{k}") for k in _KM_ELBOW_KS
    )
    legs = "\nUNION ALL\n".join(
        f"""SELECT {k} AS k,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(COUNT(DISTINCT cell) AS BIGINT) AS n_used_cells,
       CAST(FLOOR(CAST(SUM(dist2) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
         AS mean_dist2
FROM (
  SELECT vec_id, cell, dist2 FROM (
    SELECT vec_id, cell, dist2,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id ORDER BY dist2, cell) AS rn
    FROM (
      SELECT gg.vec_id, c.cell,
             SUM((gg.val - c.cg) * (gg.val - c.cg)) AS dist2
      FROM glong gg JOIN c{_KM_ITERS}_k{k} c USING (dim)
      GROUP BY gg.vec_id, c.cell
    )
  ) WHERE rn = 1
)"""
        for k in _KM_ELBOW_KS
    )
    return f"""WITH {_KM_BASE_CTES},
{chains}
SELECT * FROM (
{legs}
) ORDER BY k"""


@register("ml_kmeans_elbow_inertia", oracle=_km_elbow_oracle())
def ml_kmeans_elbow_inertia(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Elbow sweep: for K in (4, 8, 16), 3 Lloyd steps on the integer
    grid from the shared deterministic seeding, then one distributed
    scoring pass per K over the persisted grid corpus — (k, n_points,
    n_used_cells, mean_dist2). The training legs use driver-held
    centroids (K x DIM ints per step); the returned plan is the union
    of the three scoring aggregates, each one map-only assignment +
    a 1-row reduction. Oracle: three unrolled Lloyd chains + argmin
    scoring in one chained-CTE statement."""
    from functools import reduce

    from workshop3_etl_spark.functions.cache import (
        materialize_and_release,
    )

    g = _km_grid_frame(spark, sf_dir).persist()
    legs = []
    for k in _KM_ELBOW_KS:
        cents = _km_seed_cents(g, k)
        for _ in range(_KM_ITERS):
            cents = _km_update_collect(g, cents)
        legs.append(
            _km_assign(g, cents)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_points"),
                F.count_distinct("cell").cast("long")
                .alias("n_used_cells"),
                F.expr(
                    "cast(floor(cast(sum(cast(dist2 as decimal(38,0)))"
                    " as double) / cast(count(1) as double)) as bigint)"
                ).alias("mean_dist2"),
            )
            .selectExpr(
                f"cast({k} as int) as k",
                "n_points",
                "n_used_cells",
                "mean_dist2",
            )
        )
    result = reduce(DataFrame.unionAll, legs).orderBy("k")
    return materialize_and_release(result, g)


# --------------------------------------------------------------------
# End-to-end TRAINED ANN: train the coarse quantizer in-engine (the
# Lloyd trainer above), build the inverted file from its final
# centroids, probe + exact-rerank — the full IVF lifecycle as engine
# ops, next to similarity.py's sim_ann_ivf_topk which runs on the
# FROZEN offline artifact. Everything stays in the integer grid
# domain end to end: assignment, probing, and the rerank distance
# are exact bigint sums, so the entire index lifecycle is
# bit-checkable against one chained-CTE oracle with no float
# determinism rules at all.
# --------------------------------------------------------------------

_KM_ANN_QUERIES = 12  # query vectors (vec_id < this)
_KM_ANN_PROBES = 2  # cells probed per query
_KM_ANN_TOPK = 5


def _km_cell_dists(g: DataFrame, cents: list[list[int]]) -> DataFrame:
    """(vec_id, cell, dist2) exploded over all K cells — the probing
    form of the assignment pass (argmin keeps only rank 1; probes
    keep rank <= n_probes)."""
    folds = ", ".join(
        "aggregate(zip_with(g, array("
        + ", ".join(f"{int(v)}L" for v in c)
        + "), (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
        for c in cents
    )
    return (
        g.selectExpr("vec_id", "g", f"array({folds}) as ds")
        .select(
            "vec_id",
            "g",
            F.posexplode("ds").alias("cell", "dist2"),
        )
        .selectExpr("vec_id", "g", "cast(cell as int) as cell", "dist2")
    )


def _km_ann_oracle() -> str:
    return f"""WITH {_KM_BASE_CTES},
{_km_chain_ctes(_KM_K)},
ad AS (
  SELECT vec_id, cell, dist2,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id ORDER BY dist2, cell) AS rn
  FROM (
    SELECT gg.vec_id, c.cell,
           SUM((gg.val - c.cg) * (gg.val - c.cg)) AS dist2
    FROM glong gg JOIN c{_KM_ITERS} c USING (dim)
    GROUP BY gg.vec_id, c.cell
  )
),
inv AS (SELECT vec_id AS candidate_id, cell FROM ad WHERE rn = 1),
pr AS (
  SELECT vec_id AS query_id, cell FROM ad
  WHERE vec_id < {_KM_ANN_QUERIES} AND rn <= {_KM_ANN_PROBES}
),
cand AS (
  SELECT p.query_id, i.candidate_id
  FROM pr p JOIN inv i USING (cell)
  WHERE p.query_id <> i.candidate_id
),
d AS (
  SELECT c.query_id, c.candidate_id,
         CAST(SUM((gq.val - gc.val) * (gq.val - gc.val)) AS BIGINT)
           AS dist2_grid
  FROM cand c
  JOIN glong gq ON gq.vec_id = c.query_id
  JOIN glong gc ON gc.vec_id = c.candidate_id AND gc.dim = gq.dim
  GROUP BY c.query_id, c.candidate_id
)
SELECT query_id, CAST(rn AS INT) AS rank, candidate_id, dist2_grid
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY dist2_grid, candidate_id) AS rn
  FROM d
)
WHERE rn <= {_KM_ANN_TOPK}
ORDER BY query_id, rank"""


@register("sim_ann_ivf_trained_topk", oracle=_km_ann_oracle())
def sim_ann_ivf_trained_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANN top-k over an IVF index whose coarse quantizer is TRAINED
    in this very plan (3 grid-Lloyd steps), unlike sim_ann_ivf_topk's
    frozen offline artifact: assignment builds the inverted file,
    each query probes its {_KM_ANN_PROBES} nearest trained cells, and
    only those members are exact-reranked — all in exact bigint grid
    arithmetic. Spark shape: train (driver-held centroid rounds over
    the persisted grid) -> one map-only assignment pass -> probe join
    touching n_probes/K of the index -> per-query top-k window. At
    corpus scale the inverted file is the persisted artifact and the
    probe join is the only per-query cost — the recall/latency dial
    is (K, n_probes), now trainable in-engine end to end."""
    from pyspark.sql import Window

    from workshop3_etl_spark.functions.cache import (
        materialize_and_release,
    )

    g = _km_grid_frame(spark, sf_dir).persist()
    cents = _km_seed_cents(g, _KM_K)
    for _ in range(_KM_ITERS):
        cents = _km_update_collect(g, cents)
    inv = _km_assign(g, cents).select(
        F.col("vec_id").alias("candidate_id"),
        F.col("g").alias("cg_vec"),
        "cell",
    )
    probes = (
        _km_cell_dists(g.filter(F.col("vec_id") < _KM_ANN_QUERIES), cents)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("dist2", "cell")
            ),
        )
        .filter(F.col("rn") <= _KM_ANN_PROBES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("g").alias("qg"),
            "cell",
        )
    )
    cand = (
        probes.join(inv, "cell")
        .filter(F.col("query_id") != F.col("candidate_id"))
        .selectExpr(
            "query_id",
            "candidate_id",
            "aggregate(zip_with(qg, cg_vec,"
            " (a, b) -> (a - b) * (a - b)),"
            " 0L, (acc, x) -> acc + x) as dist2_grid",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        "dist2_grid", "candidate_id"
    )
    result = (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _KM_ANN_TOPK)
        .select("query_id", "rank", "candidate_id", "dist2_grid")
        .orderBy("query_id", "rank")
    )
    return materialize_and_release(result, g)


# --------------------------------------------------------------------
# TRAINED product quantization (the r8 verdict's last frozen
# artifact): per-subspace Lloyd ON THE INTEGER GRID, trained in this
# very plan — closing the train->serve story for the FINE quantizer
# tier the way ml_kmeans_lloyd_embeddings closed it for the coarse
# tier. similarity.py's sim_ann_pq_adc_topk serves the FROZEN offline
# codebooks (ivf_centroids.py PQ_CODEBOOKS); this operator trains the
# M x K codebooks end to end with the exact-bigint machinery above.
#
# Structure: a 64-d grid vector is M=8 subvectors of 8 dims; each
# subspace trains its own K=16 codebook with the identical Lloyd
# recurrence (seeding = subvectors of the SAME deterministic seed
# rows, so the oracle shares the seeds CTE shape). All 8 subspace
# trainings run in ONE pass per Lloyd step: assignment is a map-only
# fold against the M*K driver-held literal centroids, and the update
# is a single (m, code, sdim)-grouped integer-sum shuffle (M*K*SUB =
# 1024 groups — the same map-side-combinable shape as the coarse
# trainer's (cell, dim) grid).
#
# Serving (ADC): candidates carry ONLY their M codes (the 32x
# compression that makes PQ the memory-bound scale path); the
# approximate distance folds each query subvector against the literal
# trained codebook entry selected by the candidate's code — a pure
# map-side expression over broadcast queries, NO shuffle until the
# per-query top-RERANK window. (The frozen-artifact sim_ann_pq_adc_topk
# demonstrates the hoisted per-query LUT + equi-join form; at corpus
# scale the LUT saves ~8x arithmetic per candidate — here the literal
# fold keeps the whole scan map-only and bit-oracle-able.) Shortlist
# then exact-reranks against raw grid vectors. Every distance in the
# plan is an exact bigint, so train AND serve hash-match one unrolled
# chained-CTE oracle with zero float rules.
# --------------------------------------------------------------------

_PQT_M = 8  # subspaces
_PQT_SUB = 8  # dims per subspace (= _KM_DIM / _PQT_M)
_PQT_K = 16  # codes per subspace
_PQT_ITERS = _KM_ITERS  # unrolled Lloyd steps per subspace
_PQT_RERANK = 50  # ADC shortlist handed to the exact reranker


def _pqt_seed_books(g: DataFrame) -> list[list[list[int]]]:
    """books[m][k] = 8-int grid centroid: subvector m of deterministic
    seed row k (the coarse trainer's seeding, sliced per subspace)."""
    seeds = _km_seed_cents(g, _PQT_K)
    return [
        [seeds[k][m * _PQT_SUB : (m + 1) * _PQT_SUB] for k in range(_PQT_K)]
        for m in range(_PQT_M)
    ]


def _pqt_fold(vec_expr: str, cent: list[int], off: int) -> str:
    """Exact bigint squared distance of subvector [off+1, off+SUB] of
    ``vec_expr`` to an 8-int literal centroid."""
    lits = ", ".join(f"{int(v)}L" for v in cent)
    return (
        f"aggregate(zip_with(slice({vec_expr}, {off + 1}, {_PQT_SUB}),"
        f" array({lits}), (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, x) -> acc + x)"
    )


def _pqt_assign(
    g: DataFrame,
    books: list[list[list[int]]],
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """(vec_id, g, codes array<int>, *extra): map-only per-subspace
    argmin against the M*K driver-held literal centroids (ties ->
    lowest code, mirrored by the oracle's ORDER BY dist2, code)."""
    ds_cols = [
        "array("
        + ", ".join(
            _pqt_fold("g", books[m][k], m * _PQT_SUB)
            for k in range(_PQT_K)
        )
        + f") as ds{m}"
        for m in range(_PQT_M)
    ]
    codes = ", ".join(
        f"cast(array_position(ds{m}, array_min(ds{m})) - 1 as int)"
        for m in range(_PQT_M)
    )
    return g.selectExpr("vec_id", "g", *extra, *ds_cols).selectExpr(
        "vec_id", "g", *extra, f"array({codes}) as codes"
    )


def _pqt_update_sums(assigned: DataFrame) -> DataFrame:
    """The one shuffle of a per-subspace Lloyd step: (m, code, sdim,
    grid value) into an M*K*SUB-group integer aggregate."""
    subs = ", ".join(
        f"struct({m} as m, element_at(codes, {m + 1}) as code,"
        f" slice(g, {m * _PQT_SUB + 1}, {_PQT_SUB}) as sv)"
        for m in range(_PQT_M)
    )
    return (
        assigned.selectExpr("explode(array(" + subs + ")) as t")
        .select(
            F.col("t.m").alias("m"),
            F.col("t.code").alias("code"),
            F.posexplode("t.sv").alias("pos", "val"),
        )
        .groupBy("m", "code", "pos")
        .agg(
            F.sum("val").alias("s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .selectExpr("m", "code", "cast(pos + 1 as int) as sdim", "s", "n")
    )


def _pqt_update_collect(
    g: DataFrame, books: list[list[list[int]]]
) -> list[list[list[int]]]:
    """One Lloyd step over all M subspaces at once, with the M*K*SUB
    centroid grid collected back to the driver (the driver-held-
    centers protocol, corpus-independent at O(M*K*SUB) ints); empty
    (m, code) cells keep their previous centroid."""
    rows = (
        _pqt_update_sums(_pqt_assign(g, books))
        .selectExpr(
            "m",
            "code",
            "sdim",
            # double-domain floor division (engine-stable; canon rule)
            "cast(floor(cast(s as double) / cast(n as double))"
            " as bigint) as cg",
        )
        .collect()
    )
    new = {
        (int(r["m"]), int(r["code"]), int(r["sdim"])): int(r["cg"])
        for r in rows
    }
    return [
        [
            [
                new.get((m, k, d + 1), books[m][k][d])
                for d in range(_PQT_SUB)
            ]
            for k in range(_PQT_K)
        ]
        for m in range(_PQT_M)
    ]


def _pqt_chain_ctes(
    long_src: str = "glong", gv_src: str = "gv", sfx: str = ""
) -> str:
    """The unrolled per-subspace Lloyd recurrence as chained CTEs:
    pglong{sfx}, pseeds{sfx}, pb0{sfx}, ppa1{sfx}..pb{ITERS}{sfx} over
    any (vec_id, dim, val) long source + its (vec_id, g) array twin
    (gv/glong for the plain trainer, the residual frames for IVF-PQ).
    Requires _KM_BASE_CTES in scope for the default sources."""
    parts = [
        f"""pglong{sfx} AS (
  SELECT vec_id, CAST((dim - 1) // {_PQT_SUB} AS INT) AS m,
         CAST((dim - 1) % {_PQT_SUB} + 1 AS INT) AS sdim, val
  FROM {long_src}
),
pseeds{sfx} AS (
  SELECT g, CAST(rn - 1 AS INT) AS code FROM (
    SELECT g, ROW_NUMBER() OVER (
      ORDER BY {_KM_SEED_H}, vec_id) AS rn
    FROM {gv_src}
  ) WHERE rn <= {_PQT_K}
),
pm{sfx} AS (SELECT CAST(unnest(range(0, {_PQT_M})) AS INT) AS m),
psd{sfx} AS (
  SELECT CAST(unnest(range(1, {_PQT_SUB} + 1)) AS INT) AS sdim),
pb0{sfx} AS (
  SELECT pm.m, s.code, psd.sdim,
         s.g[pm.m * {_PQT_SUB} + psd.sdim] AS cg
  FROM pseeds{sfx} s, pm{sfx} pm, psd{sfx} psd
)"""
    ]
    for i in range(1, _PQT_ITERS + 1):
        parts.append(
            f""",
ppa{i}{sfx} AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id, m ORDER BY dist2, code) AS rn
    FROM (
      SELECT p.vec_id, p.m, c.code,
             SUM((p.val - c.cg) * (p.val - c.cg)) AS dist2
      FROM pglong{sfx} p JOIN pb{i - 1}{sfx} c
        ON p.m = c.m AND p.sdim = c.sdim
      GROUP BY p.vec_id, p.m, c.code
    )
  ) WHERE rn = 1
),
ppu{i}{sfx} AS (
  SELECT a.m, a.code, p.sdim,
         CAST(SUM(p.val) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ppa{i}{sfx} a JOIN pglong{sfx} p
    ON a.vec_id = p.vec_id AND a.m = p.m
  GROUP BY a.m, a.code, p.sdim
),
pb{i}{sfx} AS (
  SELECT c.m, c.code, c.sdim,
         COALESCE(CAST(FLOOR(CAST(u.s AS DOUBLE) / CAST(u.n AS DOUBLE))
                       AS BIGINT), c.cg) AS cg
  FROM pb{i - 1}{sfx} c LEFT JOIN ppu{i}{sfx} u
    ON c.m = u.m AND c.code = u.code AND c.sdim = u.sdim
)"""
        )
    return "".join(parts)


def _pqt_ann_oracle() -> str:
    fb = f"pb{_PQT_ITERS}"  # final trained books
    return f"""WITH {_KM_BASE_CTES},
{_pqt_chain_ctes()},
enc AS (
  SELECT vec_id AS candidate_id, m, code FROM (
    SELECT vec_id, m, code,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id, m ORDER BY dist2, code) AS rn
    FROM (
      SELECT p.vec_id, p.m, c.code,
             SUM((p.val - c.cg) * (p.val - c.cg)) AS dist2
      FROM pglong p JOIN {fb} c ON p.m = c.m AND p.sdim = c.sdim
      GROUP BY p.vec_id, p.m, c.code
    )
  ) WHERE rn = 1
),
qlut AS (
  SELECT p.vec_id AS query_id, c.m, c.code,
         SUM((p.val - c.cg) * (p.val - c.cg)) AS pdist
  FROM pglong p JOIN {fb} c ON p.m = c.m AND p.sdim = c.sdim
  WHERE p.vec_id < {_KM_ANN_QUERIES}
  GROUP BY p.vec_id, c.m, c.code
),
approx AS (
  SELECT l.query_id, e.candidate_id,
         CAST(SUM(l.pdist) AS BIGINT) AS adist
  FROM enc e JOIN qlut l ON e.m = l.m AND e.code = l.code
  WHERE l.query_id <> e.candidate_id
  GROUP BY l.query_id, e.candidate_id
),
short AS (
  SELECT query_id, candidate_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY adist, candidate_id) AS sr
    FROM approx
  ) WHERE sr <= {_PQT_RERANK}
),
ex AS (
  SELECT s.query_id, s.candidate_id,
         CAST(SUM((gq.val - gc.val) * (gq.val - gc.val)) AS BIGINT)
           AS dist2_grid
  FROM short s
  JOIN glong gq ON gq.vec_id = s.query_id
  JOIN glong gc ON gc.vec_id = s.candidate_id AND gc.dim = gq.dim
  GROUP BY s.query_id, s.candidate_id
)
SELECT query_id, CAST(rn AS INT) AS rank, candidate_id, dist2_grid
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY dist2_grid, candidate_id) AS rn
  FROM ex
)
WHERE rn <= {_KM_ANN_TOPK}
ORDER BY query_id, rank"""


@register("sim_ann_pq_trained_topk", oracle=_pqt_ann_oracle())
def sim_ann_pq_trained_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANN top-k over a product-quantization index whose M=8 x K=16
    sub-codebooks are TRAINED in this very plan (3 per-subspace grid-
    Lloyd steps — all 8 subspaces per pass), then served ADC-style:
    candidates reduced to their 8 codes, approximate distance = the
    sum of exact bigint subvector distances to the literal trained
    centroids the codes select, top-{_PQT_RERANK} exact-reranked.
    Completes the train->serve lifecycle for the fine quantizer tier
    (the coarse tier landed in round 8 as sim_ann_ivf_trained_topk);
    see the section design comment for the per-step plan shape and
    the 100 TB story."""
    from pyspark.sql import Window

    from workshop3_etl_spark.functions.cache import (
        materialize_and_release,
    )

    g = _km_grid_frame(spark, sf_dir).persist()
    books = _pqt_seed_books(g)
    for _ in range(_PQT_ITERS):
        books = _pqt_update_collect(g, books)

    # index: candidate -> 8 codes (the compressed artifact)
    enc = _pqt_assign(g, books).select(
        F.col("vec_id").alias("candidate_id"), "codes"
    )
    q = g.filter(F.col("vec_id") < _KM_ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("g").alias("qg")
    )
    # ADC scan: map-only fold of each query subvector against the
    # literal codebook entry the candidate's code selects
    adist = " + ".join(
        "aggregate(zip_with("
        f"slice(qg, {m * _PQT_SUB + 1}, {_PQT_SUB}),"
        " element_at(array("
        + ", ".join(
            "array(" + ", ".join(f"{int(v)}L" for v in books[m][k]) + ")"
            for k in range(_PQT_K)
        )
        + f"), element_at(codes, {m + 1}) + 1),"
        " (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
        for m in range(_PQT_M)
    )
    # crossJoin rides a broadcast of the BOUNDED query frame
    # (_KM_ANN_QUERIES rows) — the ADC scan is queries x index by
    # definition, never corpus x corpus
    approx = (
        enc.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("candidate_id"))
        .selectExpr(
            "query_id", "candidate_id", f"cast({adist} as bigint) as adist"
        )
    )
    ws = Window.partitionBy("query_id").orderBy("adist", "candidate_id")
    short = (
        approx.withColumn("sr", F.row_number().over(ws))
        .filter(F.col("sr") <= _PQT_RERANK)
        .select("query_id", "candidate_id")
    )
    cvec = g.select(
        F.col("vec_id").alias("candidate_id"), F.col("g").alias("cg_vec")
    )
    ex = (
        short.join(F.broadcast(q), "query_id")
        .join(cvec, "candidate_id")
        .selectExpr(
            "query_id",
            "candidate_id",
            "aggregate(zip_with(qg, cg_vec, (a, b) -> (a - b) * (a - b)),"
            " 0L, (acc, x) -> acc + x) as dist2_grid",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        "dist2_grid", "candidate_id"
    )
    result = (
        ex.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _KM_ANN_TOPK)
        .select("query_id", "rank", "candidate_id", "dist2_grid")
        .orderBy("query_id", "rank")
    )
    return materialize_and_release(result, g)


def _pqt_books_lit(books: list[list[list[int]]], m: int) -> str:
    """Subspace m's K x SUB trained codebook as a nested literal array
    (indexed by code via element_at in ADC expressions)."""
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{int(v)}L" for v in books[m][k]) + ")"
            for k in range(_PQT_K)
        )
        + ")"
    )


# --------------------------------------------------------------------
# Composed TRAINED IVF-PQ: both quantizer tiers trained in this very
# plan — the coarse K=16 cell quantizer (the r8 Lloyd trainer) AND
# the M=8 x K=16 residual sub-codebooks (the per-subspace trainer
# above, run on coarse RESIDUALS g - centroid[cell]). This is the
# billion-scale ANN layout (inverted lists of PQ codes over
# residuals) with zero frozen artifacts left: sim_ann_ivfpq_topk
# serves the frozen offline pair, this operator closes the verdict's
# "train the PQ sub-codebooks in-engine" item end to end.
#
# Serving: each query probes its 2 nearest trained cells; within a
# probed cell the approximate distance is the ADC fold of the QUERY'S
# RESIDUAL AGAINST THAT CELL vs the literal trained codebook entries
# selected by the candidate's stored codes — residuals stay exact
# bigint grid deltas, so the whole composed lifecycle (train coarse ->
# residuals -> train fine -> invert -> probe -> ADC -> exact rerank)
# hash-matches one unrolled chained-CTE oracle with no float rules.
# Plan shape: training = the two drivers' (cell,dim) / (m,code,sdim)
# integer-sum shuffles; serving = one map-only encode pass, a
# probes-broadcast join touching n_probes/K of the index, and the
# top-RERANK window — the per-query scan cost is ADC over codes, the
# memory-bound scale path.
# --------------------------------------------------------------------


def _ivfpqt_ctes(nq: int) -> str:
    """The full trained-IVF-PQ lifecycle as chained CTEs, through the
    exact-reranked shortlist ``ex`` (query_id, candidate_id,
    dist2_grid): coarse Lloyd chain -> inverted assignment ->
    residuals -> residual-PQ Lloyd chain -> encode -> probe -> ADC ->
    exact rerank. Parameterized by the query-vector count so both the
    standalone ANN oracle (_KM_ANN_QUERIES) and the composed hybrid
    retrieval oracle (_N_QUERIES-aligned) share one derivation."""
    cI, fb = f"c{_KM_ITERS}", f"pb{_PQT_ITERS}_r"
    return f"""{_KM_BASE_CTES},
{_km_chain_ctes(_KM_K)},
ad AS MATERIALIZED (
  SELECT vec_id, cell, dist2,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id ORDER BY dist2, cell) AS rn
  FROM (
    SELECT gg.vec_id, c.cell,
           SUM((gg.val - c.cg) * (gg.val - c.cg)) AS dist2
    FROM glong gg JOIN {cI} c USING (dim)
    GROUP BY gg.vec_id, c.cell
  )
),
inv AS (SELECT vec_id, cell FROM ad WHERE rn = 1),
rg AS MATERIALIZED (
  SELECT g.vec_id, g.dim, g.val - c.cg AS val
  FROM glong g
  JOIN inv i ON g.vec_id = i.vec_id
  JOIN {cI} c ON c.cell = i.cell AND c.dim = g.dim
),
rgv AS MATERIALIZED (
  SELECT vec_id, list(val ORDER BY dim) AS g FROM rg GROUP BY vec_id
),
{_pqt_chain_ctes("rg", "rgv", "_r")},
enc AS MATERIALIZED (
  SELECT vec_id AS candidate_id, m, code FROM (
    SELECT vec_id, m, code,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id, m ORDER BY dist2, code) AS rn
    FROM (
      SELECT p.vec_id, p.m, c.code,
             SUM((p.val - c.cg) * (p.val - c.cg)) AS dist2
      FROM pglong_r p JOIN {fb} c ON p.m = c.m AND p.sdim = c.sdim
      GROUP BY p.vec_id, p.m, c.code
    )
  ) WHERE rn = 1
),
encc AS (
  SELECT e.candidate_id, i.cell, e.m, e.code
  FROM enc e JOIN inv i ON i.vec_id = e.candidate_id
),
pro AS (
  SELECT vec_id AS query_id, cell FROM ad
  WHERE vec_id < {nq} AND rn <= {_KM_ANN_PROBES}
),
qres AS MATERIALIZED (
  SELECT p.query_id, p.cell,
         CAST((g.dim - 1) // {_PQT_SUB} AS INT) AS m,
         CAST((g.dim - 1) % {_PQT_SUB} + 1 AS INT) AS sdim,
         g.val - c.cg AS val
  FROM pro p
  JOIN glong g ON g.vec_id = p.query_id
  JOIN {cI} c ON c.cell = p.cell AND c.dim = g.dim
),
qlut AS MATERIALIZED (
  SELECT q.query_id, q.cell, b.m, b.code,
         SUM((q.val - b.cg) * (q.val - b.cg)) AS pdist
  FROM qres q JOIN {fb} b ON b.m = q.m AND b.sdim = q.sdim
  GROUP BY q.query_id, q.cell, b.m, b.code
),
approx AS (
  SELECT l.query_id, e.candidate_id,
         CAST(SUM(l.pdist) AS BIGINT) AS adist
  FROM encc e
  JOIN qlut l ON e.cell = l.cell AND e.m = l.m AND e.code = l.code
  WHERE l.query_id <> e.candidate_id
  GROUP BY l.query_id, e.candidate_id
),
short AS (
  SELECT query_id, candidate_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY adist, candidate_id) AS sr
    FROM approx
  ) WHERE sr <= {_PQT_RERANK}
),
ex AS (
  SELECT s.query_id, s.candidate_id,
         CAST(SUM((gq.val - gc.val) * (gq.val - gc.val)) AS BIGINT)
           AS dist2_grid
  FROM short s
  JOIN glong gq ON gq.vec_id = s.query_id
  JOIN glong gc ON gc.vec_id = s.candidate_id AND gc.dim = gq.dim
  GROUP BY s.query_id, s.candidate_id
)"""


def _ivfpqt_oracle() -> str:
    return f"""WITH {_ivfpqt_ctes(_KM_ANN_QUERIES)}
SELECT query_id, CAST(rn AS INT) AS rank, candidate_id, dist2_grid
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY dist2_grid, candidate_id) AS rn
  FROM ex
)
WHERE rn <= {_KM_ANN_TOPK}
ORDER BY query_id, rank"""


def _ivfpqt_rerank(
    spark: SparkSession, sf_dir: str, n_queries: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the full IVF-PQ lifecycle in-plan and serve the exact-
    reranked shortlist for the first ``n_queries`` query vectors:
    returns (ex, g, rga) where ex = (query_id, candidate_id,
    dist2_grid) holds up to _PQT_RERANK exact-reranked candidates per
    query and g/rga are the persisted frames the CALLER must release
    (materialize_and_release) once its result is materialized.
    Shared by sim_ann_ivfpq_trained_topk and the composed
    search_hybrid_indexed_topk."""
    from pyspark.sql import Window

    g = _km_grid_frame(spark, sf_dir).persist()
    cents = _km_seed_cents(g, _KM_K)
    for _ in range(_KM_ITERS):
        cents = _km_update_collect(g, cents)
    cents_lit = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{int(v)}L" for v in c) + ")"
            for c in cents
        )
        + ")"
    )
    # residual corpus: map-only assignment + literal-centroid delta
    rga = _km_assign(g, cents).selectExpr(
        "vec_id",
        "cell",
        f"zip_with(g, element_at({cents_lit}, cell + 1),"
        " (a, b) -> a - b) as g",
    ).persist()
    books = _pqt_seed_books(rga)
    for _ in range(_PQT_ITERS):
        books = _pqt_update_collect(rga, books)

    # inverted file of PQ codes: candidate -> (cell, 8 codes)
    enc = _pqt_assign(rga, books, extra=("cell",)).select(
        F.col("vec_id").alias("candidate_id"), "cell", "codes"
    )
    probes = (
        _km_cell_dists(
            g.filter(F.col("vec_id") < n_queries), cents
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("dist2", "cell")
            ),
        )
        .filter(F.col("rn") <= _KM_ANN_PROBES)
        .selectExpr(
            "vec_id as query_id",
            "cell",
            f"zip_with(g, element_at({cents_lit}, cell + 1),"
            " (a, b) -> a - b) as qres",
        )
    )
    adist = " + ".join(
        "aggregate(zip_with("
        f"slice(qres, {m * _PQT_SUB + 1}, {_PQT_SUB}),"
        f" element_at({_pqt_books_lit(books, m)},"
        f" element_at(codes, {m + 1}) + 1),"
        " (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
        for m in range(_PQT_M)
    )
    # probed-cells join: only members of a query's probed cells are
    # ADC-scored; probes is Q x n_probes rows — always broadcast
    approx = (
        enc.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("candidate_id"))
        .selectExpr(
            "query_id",
            "candidate_id",
            f"cast({adist} as bigint) as adist",
        )
    )
    ws = Window.partitionBy("query_id").orderBy("adist", "candidate_id")
    short = (
        approx.withColumn("sr", F.row_number().over(ws))
        .filter(F.col("sr") <= _PQT_RERANK)
        .select("query_id", "candidate_id")
    )
    q = g.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("g").alias("qg")
    )
    cvec = g.select(
        F.col("vec_id").alias("candidate_id"), F.col("g").alias("cg_vec")
    )
    ex = (
        short.join(F.broadcast(q), "query_id")
        .join(cvec, "candidate_id")
        .selectExpr(
            "query_id",
            "candidate_id",
            "aggregate(zip_with(qg, cg_vec, (a, b) -> (a - b) * (a - b)),"
            " 0L, (acc, x) -> acc + x) as dist2_grid",
        )
    )
    return ex, g, rga


@register("sim_ann_ivfpq_trained_topk", oracle=_ivfpqt_oracle())
def sim_ann_ivfpq_trained_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANN top-k over the fully in-engine-trained IVF-PQ index: the
    coarse cell quantizer AND the residual PQ sub-codebooks both
    trained in this plan, candidates stored as (cell, 8 codes),
    queries probing {_KM_ANN_PROBES} cells with residual-ADC scoring
    and exact rerank — the composed billion-scale layout with no
    frozen artifacts. See the section design comment for the plan
    shape and the 100 TB story."""
    from pyspark.sql import Window

    from workshop3_etl_spark.functions.cache import (
        materialize_and_release,
    )

    ex, g, rga = _ivfpqt_rerank(spark, sf_dir, _KM_ANN_QUERIES)
    w = Window.partitionBy("query_id").orderBy(
        "dist2_grid", "candidate_id"
    )
    result = (
        ex.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _KM_ANN_TOPK)
        .select("query_id", "rank", "candidate_id", "dist2_grid")
        .orderBy("query_id", "rank")
    )
    return materialize_and_release(result, g, rga)


# --------------------------------------------------------------------
# Index-fed HYBRID retrieval (VERDICT r9 #1): the serving-shape
# composition of the engine's own index legs — a lexical POSTINGS leg
# and a trained-IVF-PQ ANN shortlist leg — fused by the exact-integer
# Reciprocal Rank Fusion math of search_rrf_hybrid_topk
# (operators/similarity.py), with NO corpus x query exact leg
# anywhere in the plan. The exact-leg operator remains the
# verifiable brute-force baseline; this one is what actually serves
# at 100 TB.
#
# Queries: the first 5 documents / embedding vectors (doc_id ==
# vec_id alignment, the same query set as the exact-leg RRF operator
# so the two are overlap-comparable; a pytest pins that agreement).
#
# Lexical leg: each query is represented by its 4 RAREST distinct
# tokens (lowest corpus df, term tiebreak — classic candidate
# generation: rare terms have short postings). Candidates = documents
# sharing >=1 selected term, reached through the posting join (corpus
# token stream x broadcast 20-row query-term frame — work
# proportional to the selected postings' length, never |corpus| x
# |queries|). Scoring is the BM25-shaped exact-integer rational of
# search_bm25_topk (k1 = 1.2, b = 0.75 via the 44/20/6/18
# multiplied-through form), with ONE deliberate change: the idf
# factor is the exact-rational surrogate (1000 * (N + 1)) div
# (df + 1) instead of floor-log2 bits. On this flat synthetic
# vocabulary (most df within a few % of N) the bits idf floors to 0
# for every common term and would zero the ranking signal; the
# rational surrogate is monotone in df, exactly integer, and keeps
# tf/dl discrimination. (At 100 TB token counts the x1000 numerator
# outgrows int64; internals would widen to decimal(38,0) exactly as
# the BM25 section documents.)
#
# Semantic leg: the trained IVF-PQ serving path (_ivfpqt_rerank —
# coarse Lloyd -> residual PQ -> probe 2/16 cells -> ADC ->
# exact-reranked top-50 shortlist), ranked by exact grid distance.
#
# Fusion: FULL OUTER join of the two <=50-candidate-per-query lists;
# rrf = coalesce(1/(60 + lex_rank), 0) + coalesce(1/(60 + sem_rank),
# 0) — a fixed-order sum of at most two exact doubles, so the fused
# ordering is engine-identical; top-10 per query with candidate-id
# tiebreak, both leg ranks kept visible for audit.
# --------------------------------------------------------------------

_HYB_QUERIES = 5  # == similarity._N_QUERIES (exact-leg RRF query set)
_HYB_QTERMS = 4  # rarest distinct tokens representing each query
_HYB_SHORT = _PQT_RERANK  # per-leg candidate list length
_HYB_TOPK = 10  # fused output depth (== similarity._TOP_K)
_HYB_RRF_K = 60  # RRF constant (== similarity._RRF_K)


def _hybrid_ctes() -> str:
    """The index-fed hybrid derivation as CTEs (assumes
    _ivfpqt_ctes(_HYB_QUERIES) is already in scope for ``ex``),
    ending in ``hyb_out`` (query_id, rank, candidate_id, lex_rank,
    sem_rank, rrf_score). Shared by the standalone oracle and the
    hybrid-vs-exact eval oracle."""
    from workshop3_etl_spark.operators.text import _TOKENS_DUCK

    return f"""sem AS (
  SELECT query_id, candidate_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY dist2_grid, candidate_id) AS sem_rank
  FROM ex
),
htk AS (SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents),
hpos AS (SELECT doc_id, unnest(toks) AS w FROM htk),
htermdf AS (
  SELECT w AS term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM hpos GROUP BY w
),
hdl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM htk),
hstats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS t
  FROM hdl
),
hq AS (
  SELECT query_id, term, df FROM (
    SELECT qt.query_id, qt.term, d.df,
           ROW_NUMBER() OVER (
             PARTITION BY qt.query_id ORDER BY d.df, qt.term) AS rn
    FROM (SELECT doc_id AS query_id,
                 unnest(list_distinct(toks)) AS term
          FROM htk WHERE doc_id < {_HYB_QUERIES}) qt
    JOIN htermdf d USING (term)
  ) WHERE rn <= {_HYB_QTERMS}
),
htf AS (
  SELECT p.doc_id, p.w AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM hpos p JOIN (SELECT DISTINCT term FROM hq) s ON s.term = p.w
  GROUP BY p.doc_id, p.w
),
hcontrib AS (
  SELECT q.query_id, f.doc_id AS candidate_id,
         ((((1000 * (s.n + 1)) // (q.df + 1)) * 44 * s.t * f.tf)
          // (20 * s.t * f.tf + 6 * s.t + 18 * s.n * d.dl)) AS c
  FROM htf f
  JOIN hq q USING (term)
  JOIN hdl d ON d.doc_id = f.doc_id
  CROSS JOIN hstats s
  WHERE f.doc_id <> q.query_id
),
lex AS (
  SELECT query_id, candidate_id, lex_rank FROM (
    SELECT query_id, candidate_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY score_x1000 DESC, candidate_id) AS lex_rank
    FROM (
      SELECT query_id, candidate_id,
             CAST(SUM(c) AS BIGINT) AS score_x1000
      FROM hcontrib GROUP BY query_id, candidate_id
    )
  ) WHERE lex_rank <= {_HYB_SHORT}
),
fused AS (
  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
         COALESCE(l.candidate_id, s.candidate_id) AS candidate_id,
         CAST(l.lex_rank AS BIGINT) AS lex_rank,
         CAST(s.sem_rank AS BIGINT) AS sem_rank,
         COALESCE(1e0 / ({_HYB_RRF_K} + l.lex_rank), 0e0)
           + COALESCE(1e0 / ({_HYB_RRF_K} + s.sem_rank), 0e0)
           AS rrf_score
  FROM lex l FULL JOIN sem s
    ON s.query_id = l.query_id AND s.candidate_id = l.candidate_id
),
hyb_out AS (
  SELECT query_id, CAST(rank AS INT) AS rank, candidate_id,
         lex_rank, sem_rank, rrf_score
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY rrf_score DESC, candidate_id) AS rank
    FROM fused
  ) WHERE rank <= {_HYB_TOPK}
)"""


def _hybrid_oracle() -> str:
    return f"""WITH {_ivfpqt_ctes(_HYB_QUERIES)},
{_hybrid_ctes()}
SELECT query_id, rank, candidate_id, lex_rank, sem_rank, rrf_score
FROM hyb_out
ORDER BY query_id, rank"""


@register("search_hybrid_indexed_topk", oracle=_hybrid_oracle())
def search_hybrid_indexed_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Index-fed hybrid retrieval: per query document, the lexical
    posting-list leg (rarest-4-term candidate generation, BM25-shaped
    exact-integer scoring) and the trained-IVF-PQ ANN shortlist leg,
    fused by Reciprocal Rank Fusion (k = 60), top-10 — (query_id,
    rank, candidate_id, lex_rank, sem_rank, rrf_score) with null leg
    ranks where a candidate surfaced on one index only. See the
    section design comment for the leg shapes, the idf surrogate
    rationale, and the no-corpus-cross-join contract."""
    from pyspark.sql import Window

    from workshop3_etl_spark.functions.cache import (
        materialize_and_release,
    )
    from workshop3_etl_spark.operators.text import _TOKENS

    # ---- semantic leg: trained IVF-PQ shortlist, ranked
    ex, g, rga = _ivfpqt_rerank(spark, sf_dir, _HYB_QUERIES)
    wsem = Window.partitionBy("query_id").orderBy(
        "dist2_grid", "candidate_id"
    )
    sem = ex.withColumn(
        "sem_rank", F.row_number().over(wsem).cast("long")
    ).select("query_id", "candidate_id", "sem_rank")

    # ---- lexical leg: postings index + broadcast query-term frame
    tk = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(_TOKENS).alias("toks"))
        .persist()
    )
    pos = tk.select("doc_id", F.explode("toks").alias("w"))
    termdf = pos.groupBy(F.col("w").alias("term")).agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    dl = tk.select(
        "doc_id", F.expr("cast(size(toks) as bigint)").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").cast("long").alias("t"),
    )
    qtok = (
        tk.filter(F.col("doc_id") < _HYB_QUERIES)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.array_distinct("toks")).alias("term"),
        )
    )
    wqt = Window.partitionBy("query_id").orderBy("df", "term")
    qsel = (
        termdf.join(F.broadcast(qtok), "term")
        .withColumn("rn", F.row_number().over(wqt))
        .filter(F.col("rn") <= _HYB_QTERMS)
        .select("query_id", "term", "df")
    )
    # posting join: corpus token stream pruned map-side by the
    # broadcast selected-term set, then per-(doc, term) tf counts —
    # work is proportional to the selected postings, never
    # |corpus| x |queries|
    tf = (
        pos.join(
            F.broadcast(
                qsel.select(F.col("term").alias("w")).distinct()
            ),
            "w",
        )
        .groupBy("doc_id", F.col("w").alias("term"))
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    contrib = (
        tf.join(F.broadcast(qsel), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .selectExpr(
            "query_id",
            "doc_id as candidate_id",
            "((((1000L * (n + 1L)) div (df + 1L)) * 44L * t * tf)"
            " div (20L * t * tf + 6L * t + 18L * n * dl)) as c",
        )
    )
    wlex = Window.partitionBy("query_id").orderBy(
        F.desc("score_x1000"), F.asc("candidate_id")
    )
    lex = (
        contrib.groupBy("query_id", "candidate_id")
        .agg(F.sum("c").cast("long").alias("score_x1000"))
        .withColumn("lex_rank", F.row_number().over(wlex).cast("long"))
        .filter(F.col("lex_rank") <= _HYB_SHORT)
        .select("query_id", "candidate_id", "lex_rank")
    )

    # ---- RRF fusion of the two bounded candidate lists
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("candidate_id")
    )
    result = (
        lex.join(sem, ["query_id", "candidate_id"], "full")
        .selectExpr(
            "query_id",
            "candidate_id",
            "lex_rank",
            "sem_rank",
            f"coalesce(1e0 / ({_HYB_RRF_K} + lex_rank), 0e0)"
            f" + coalesce(1e0 / ({_HYB_RRF_K} + sem_rank), 0e0)"
            " as rrf_score",
        )
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= _HYB_TOPK)
        .select(
            "query_id", "rank", "candidate_id", "lex_rank",
            "sem_rank", "rrf_score",
        )
        .orderBy("query_id", "rank")
    )
    return materialize_and_release(result, g, rga, tk)


# --------------------------------------------------------------------
# Hybrid-retrieval EVAL harness: the indexed-vs-exact agreement
# metric promoted from a pytest pin into a registered, ORACLED
# operator — the same flywheel move as dedup_lsh_eval_metrics (the
# LSH eval) applied to the retrieval stack. Per query: the fused
# top-10 of the exact-leg RRF baseline (Jaccard + cosine brute
# force, similarity.search_rrf_hybrid_topk) vs the index-fed hybrid
# (BM25-shaped postings + trained IVF-PQ,
# search_hybrid_indexed_topk), with the overlap count and fraction.
# The structurally-modest agreement (different leg scorers BY
# DESIGN — see the hybrid section comment) is exactly what this row
# makes auditable: a driver-green row pins the deterministic
# agreement level every round, so an index regression that silently
# collapses it to zero fails the hash gate, not just a unit test.
#
# Deliberate ground-truth class (perf_class): the exact legs are
# corpus x query brute-force enumerations — the cost IS the point,
# as with the containment/prefix-filter verification joins;
# headline-excluded, class-tagged in the ledger's records.
# --------------------------------------------------------------------


def _hybrid_eval_oracle() -> str:
    from workshop3_etl_spark.operators.similarity import _rrf_ctes

    return f"""WITH {_ivfpqt_ctes(_HYB_QUERIES)},
{_hybrid_ctes()},
{_rrf_ctes('x_')},
ov AS (
  SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM x_rrf_out e
  JOIN hyb_out i
    ON i.query_id = e.query_id AND i.candidate_id = e.candidate_id
  GROUP BY e.query_id
),
ne AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM x_rrf_out GROUP BY query_id
),
ni AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_indexed
  FROM hyb_out GROUP BY query_id
)
SELECT ne.query_id, ne.n_exact, ni.n_indexed,
       COALESCE(ov.n_overlap, 0) AS n_overlap,
       CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE)
         / CAST(ne.n_exact AS DOUBLE) AS overlap_frac
FROM ne
JOIN ni ON ni.query_id = ne.query_id
LEFT JOIN ov ON ov.query_id = ne.query_id
ORDER BY ne.query_id"""


@register(
    "search_eval_hybrid_vs_exact",
    oracle=_hybrid_eval_oracle(),
    perf_class="ground_truth",
)
def search_eval_hybrid_vs_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-query agreement of the index-fed hybrid retrieval against
    the exact-leg RRF baseline: (query_id, n_exact, n_indexed,
    n_overlap, overlap_frac) over the fused top-{_HYB_TOPK} lists.
    A deliberate ground-truth eval harness (both exact legs run);
    see the section design comment."""
    from workshop3_etl_spark.operators.similarity import (
        search_rrf_hybrid_topk,
    )

    exact = search_rrf_hybrid_topk(spark, sf_dir).select(
        "query_id", "candidate_id"
    )
    idx = search_hybrid_indexed_topk(spark, sf_dir).select(
        "query_id", "candidate_id"
    )
    ov = (
        exact.join(idx, ["query_id", "candidate_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    ne = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    ni = idx.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_indexed")
    )
    return (
        ne.join(ni, "query_id")
        .join(ov, "query_id", "left")
        .selectExpr(
            "query_id",
            "n_exact",
            "n_indexed",
            "coalesce(n_overlap, 0L) as n_overlap",
            "cast(coalesce(n_overlap, 0L) as double)"
            " / cast(n_exact as double) as overlap_frac",
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------
# Incremental INVERTED-FILE maintenance: the vector-index sibling of
# mv_join_incremental_maintenance. The serving artifact of every IVF
# operator is the inverted file (cell -> members); when a delta of
# new vectors lands, production appends delta-only assignments — it
# never re-assigns the corpus. This operator maintains the per-cell
# index STATS (membership count + order-independent content
# fingerprint of the member-id set, the canon 15-bit limb fold whose
# LIMB SUMS are associative and therefore mergeable) from a 7/8 base
# plus a 1/8 delta, and proves cell-for-cell equality against the
# full recompute INSIDE the plan (per-cell boolean the oracle gates
# as TRUE). Assignment uses the frozen production quantizer (the
# maintenance contract: the quantizer is fixed between retrains —
# stream_kmeans_quantizer_refresh + embedding_quantizer_drift govern
# WHEN to retrain). Work shape: the delta pays one |delta| map-only
# assignment + a K-row merge; the full-recompute leg exists only to
# be auditable.
# --------------------------------------------------------------------


def _ivf_inv_stats_duck(src_filter: str) -> str:
    """DuckDB CTE body: per-cell (n, limb sums) over embeddings rows
    satisfying ``src_filter`` under the frozen quantizer."""
    from workshop3_etl_spark.functions.canon import (
        FP_BASE,
        FP_SHIFTS,
        fp_hash_duck,
    )
    from workshop3_etl_spark.operators.similarity import _dot_duck

    h = fp_hash_duck("cast(vec_id as varchar)")
    limbs = ", ".join(
        f"CAST(SUM(({h} >> {s}) % {FP_BASE}) AS BIGINT) AS s{s}"
        for s in FP_SHIFTS
    )
    return f"""
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n, {limbs}
  FROM (
    SELECT vec_id, cell FROM (
      SELECT v.vec_id, cells.cell,
             ROW_NUMBER() OVER (
               PARTITION BY v.vec_id
               ORDER BY cells.cc - 2 * {_dot_duck('v.ev', 'cells.centroid')},
                        cells.cell) AS rn
      FROM (SELECT vec_id, embedding AS ev FROM embeddings
            WHERE {src_filter}) v
      CROSS JOIN cells
    ) WHERE rn = 1
  )
  GROUP BY cell"""


def _ivf_ivm_oracle() -> str:
    from workshop3_etl_spark.functions.canon import (
        FP_BASE,
        FP_PRIME,
        FP_SHIFTS,
    )
    from workshop3_etl_spark.operators.similarity import (
        _ivf_cells_values_sql,
    )

    acc = f"(m.s{FP_SHIFTS[0]} % {FP_PRIME})"
    for s in FP_SHIFTS[1:]:
        acc = f"((({acc}) * {FP_BASE} + m.s{s} % {FP_PRIME}) % {FP_PRIME})"
    eqs = " AND ".join(f"m.s{s} = f.s{s}" for s in FP_SHIFTS)
    return f"""
WITH cells AS (
  SELECT * FROM (VALUES
    {_ivf_cells_values_sql()}
  ) AS t(cell, centroid, cc)
),
base AS ({_ivf_inv_stats_duck("vec_id % 8 <> 0")}),
delta AS ({_ivf_inv_stats_duck("vec_id % 8 = 0")}),
merged AS (
  SELECT cell, CAST(SUM(n) AS BIGINT) AS n,
         {", ".join(f"CAST(SUM(s{s}) AS BIGINT) AS s{s}" for s in FP_SHIFTS)}
  FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
  GROUP BY cell
),
fullr AS ({_ivf_inv_stats_duck("TRUE")})
SELECT m.cell, m.n AS n_vecs,
       COALESCE(CAST(d.n AS BIGINT), 0) AS n_delta,
       CAST({acc} AS BIGINT) AS members_fp,
       (m.n = f.n AND {eqs}) AS audit_ok
FROM merged m
JOIN fullr f ON f.cell = m.cell
LEFT JOIN delta d ON d.cell = m.cell
ORDER BY m.cell
"""


@register("mv_ivf_incremental_maintenance", oracle=_ivf_ivm_oracle())
def mv_ivf_incremental_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maintain the IVF inverted-file stats (per-cell member count +
    canon limb-fold fingerprint of the member-id set) from a 7/8
    base plus a 1/8 delta — delta-only assignment, limb-sum merge —
    and prove per-cell equality against the full recompute inside the
    plan: (cell, n_vecs, n_delta, members_fp, audit_ok). See the
    section design comment."""
    from workshop3_etl_spark.functions.canon import (
        FP_BASE,
        FP_PRIME,
        FP_SHIFTS,
        fp_hash_spark,
    )
    from workshop3_etl_spark.operators.similarity import (
        _ivf_cells_df,
        dot_fold,
    )

    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("ev")
    )
    cells = F.broadcast(_ivf_cells_df(spark))
    h = fp_hash_spark("cast(vec_id as string)")
    wv = Window.partitionBy("vec_id").orderBy("adist", "cell")

    def stats_of(vecs: DataFrame) -> DataFrame:
        assigned = (
            vecs.crossJoin(cells)
            .select(
                "vec_id",
                "cell",
                (F.col("cc") - 2 * dot_fold("ev", "centroid")).alias(
                    "adist"
                ),
            )
            .withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
        )
        return assigned.groupBy("cell").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            *[
                F.expr(f"cast(sum(({h} >> {s}) % {FP_BASE}) as bigint)")
                .alias(f"s{s}")
                for s in FP_SHIFTS
            ],
        )

    is_delta = F.col("vec_id") % 8 == 0
    base = stats_of(emb.filter(~is_delta))
    delta = stats_of(emb.filter(is_delta))  # |delta| work only
    merged = (
        base.unionByName(delta)
        .groupBy("cell")
        .agg(
            F.sum("n").cast("long").alias("n"),
            *[
                F.sum(f"s{s}").cast("long").alias(f"s{s}")
                for s in FP_SHIFTS
            ],
        )
    )
    full = stats_of(emb).select(
        "cell",
        F.col("n").alias("n_f"),
        *[F.col(f"s{s}").alias(f"s{s}_f") for s in FP_SHIFTS],
    )
    acc = f"(s{FP_SHIFTS[0]} % {FP_PRIME})"
    for s in FP_SHIFTS[1:]:
        acc = f"((({acc}) * {FP_BASE} + s{s} % {FP_PRIME}) % {FP_PRIME})"
    eqs = " and ".join(f"s{s} = s{s}_f" for s in FP_SHIFTS)
    return (
        merged.join(full, "cell")
        .join(
            delta.select("cell", F.col("n").alias("n_delta")),
            "cell",
            "left",
        )
        .selectExpr(
            "cell",
            "n as n_vecs",
            "coalesce(n_delta, 0L) as n_delta",
            f"cast({acc} as bigint) as members_fp",
            f"(n = n_f and {eqs}) as audit_ok",
        )
        .orderBy("cell")
    )


# --------------------------------------------------------------------
# In-engine BATCH PERCEPTRON training (Rosenblatt's rule, batch
# variant): the linear-CLASSIFIER sibling of the Lloyd trainer above
# — same driver-held-model protocol (the weight vector is O(D),
# corpus-independent, collected between rounds exactly like the
# K-row centroid frame), same integer-grid determinism, same
# unrolled-recurrence DuckDB oracle with MATERIALIZED per-level CTEs
# (each level references its predecessor three times — the NOTES
# exponential-reanalysis finding).
#
# Per step t: margin_i = y_i * (w_t . x_i + b_t) over the
# floor(x * 2^21) integer grid (EXACT bigint arithmetic — mistakes,
# updates, and ties are engine-identical); the batch update sums
# y_i * x_i over the mistake set in ONE map-side-combinable D-group
# shuffle. Magnitudes: |w| <= T * N * G * 0.5 and the dot stays well
# under 2^63 at every graded SF (at 100 TB token counts the sums
# would widen to decimal(38,0), the canon recipe). The target is the
# even-label class of the embeddings corpus: y = +1 iff label % 2 = 0
# (a real binary split of the data with both classes populated at
# every SF).
# --------------------------------------------------------------------

_PCT_STEPS = 4
_PCT_Y = "case when label % 2 = 0 then 1L else -1L end"
_PCT_Y_DUCK = "CASE WHEN label % 2 = 0 THEN 1 ELSE -1 END"


def _pct_oracle() -> str:
    g = _KM_GRID
    parts = [
        f"""WITH v AS (
  SELECT vec_id, CAST({_PCT_Y_DUCK} AS BIGINT) AS y,
         list_transform(embedding, x ->
           CAST(FLOOR(CAST(x AS DOUBLE) * {g}.0) AS BIGINT)) AS xg
  FROM embeddings WHERE len(embedding) = {_KM_DIM}
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
dims AS (SELECT CAST(unnest(range(1, {_KM_DIM} + 1)) AS INT) AS dim),
w0 AS (
  SELECT list(CAST(0 AS BIGINT) ORDER BY dim) AS arr,
         CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS n_mist
  FROM dims
)"""
    ]
    dot = (
        "list_reduce(list_transform(list_zip(m.xg, p.arr),"
        " q -> q[1] * q[2]), (a, c) -> a + c)"
    )
    for t in range(1, _PCT_STEPS + 1):
        parts.append(
            f""",
mist{t} AS MATERIALIZED (
  SELECT m.vec_id, m.y, m.xg
  FROM v m CROSS JOIN w{t - 1} p
  WHERE m.y * ({dot} + p.b) <= 0
),
upd{t} AS (
  SELECT d.dim, CAST(SUM(m.y * m.xg[d.dim]) AS BIGINT) AS s
  FROM mist{t} m CROSS JOIN dims d
  GROUP BY d.dim
),
wst{t} AS (
  SELECT CAST(COALESCE(SUM(y), 0) * {g} AS BIGINT) AS db,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM mist{t}
),
warr{t} AS (
  SELECT list(p.arr[d.dim] + COALESCE(u.s, 0) ORDER BY d.dim) AS arr
  FROM dims d
  CROSS JOIN w{t - 1} p
  LEFT JOIN upd{t} u ON u.dim = d.dim
),
w{t} AS MATERIALIZED (
  SELECT a.arr, p.b + s.db AS b, s.c AS n_mist
  FROM warr{t} a CROSS JOIN wst{t} s CROSS JOIN w{t - 1} p
)"""
        )
    steps = "\nUNION ALL\n".join(
        f"""SELECT CAST({t} AS INT) AS step, w.n_mist AS n_mistakes,
       CAST(nn.n - w.n_mist AS DOUBLE) / CAST(nn.n AS DOUBLE)
         AS accuracy,
       CAST(list_reduce(list_transform(w.arr, x -> abs(x)),
                        (a, c) -> a + c) AS BIGINT) AS w_l1,
       w.b AS bias_grid
FROM w{t} w CROSS JOIN nn"""
        for t in range(1, _PCT_STEPS + 1)
    )
    return "".join(parts) + f"\n{steps}\nORDER BY step"


@register("ml_perceptron_train_embeddings", oracle=_pct_oracle())
def ml_perceptron_train_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch perceptron trained IN-ENGINE on the integer-grid
    embeddings (target: label parity): per unrolled step, one
    map-only literal-weight margin scan + one D-group mistake-sum
    shuffle, weights driver-held between rounds (the Lloyd protocol)
    — (step, n_mistakes, accuracy, w_l1, bias_grid), where
    n_mistakes counts margin <= 0 under the PRE-update weights and
    w_l1/bias_grid report the POST-update model. See the section
    design comment."""
    g = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.expr(f"size(embedding) = {_KM_DIM}"))
        .selectExpr(
            "vec_id",
            f"cast({_PCT_Y} as bigint) as y",
            f"{_KM_GRID_SPARK} as xg",
        )
        .persist()
    )
    n = g.count()
    # int64 safety bound for the literal-weight margin dot (ADVICE
    # r9): |dot(xg, w) + b| <= xmax * sum|w| + |b|, checked against
    # 2^62 before each step's expression is built. xmax is measured
    # from the data (one 1-row agg over the persisted frame), not
    # assumed from the comment's headroom claim; Spark is non-ANSI
    # here, so an overflow would wrap silently while DuckDB errors.
    xmax = int(
        g.selectExpr(
            "aggregate(xg, 0L, (a, x) -> greatest(a, abs(x))) as m"
        )
        .agg(F.max("m"))
        .collect()[0][0]
        or 0
    )
    w = [0] * _KM_DIM
    b = 0
    rows = []
    for t in range(1, _PCT_STEPS + 1):
        margin_bound = xmax * sum(abs(v) for v in w) + abs(int(b))
        if margin_bound >= 1 << 62:
            raise OverflowError(
                "perceptron margin dot would exceed int64: "
                f"xmax={xmax} sum|w|={sum(abs(v) for v in w)} b={b}"
            )
        warr = "array(" + ", ".join(f"{int(v)}L" for v in w) + ")"
        margin = (
            f"y * (aggregate(zip_with(xg, {warr},"
            " (p, q) -> p * q), 0L, (acc, x) -> acc + x)"
            f" + {int(b)}L)"
        )
        mist = g.filter(F.expr(f"{margin} <= 0"))
        upd = (
            mist.select("y", F.posexplode("xg").alias("pos", "val"))
            .groupBy("pos")
            .agg(
                F.sum(F.col("y") * F.col("val")).cast("long").alias("s"),
                F.count(F.lit(1)).cast("long").alias("c"),
                F.sum("y").cast("long").alias("sy"),
            )
            .collect()
        )
        if upd:
            n_mist = int(upd[0]["c"])
            b += int(upd[0]["sy"]) * _KM_GRID
            for r in upd:
                w[int(r["pos"])] += int(r["s"])
        else:
            n_mist = 0
        rows.append(
            (
                t,
                n_mist,
                float(n - n_mist) / float(n),
                sum(abs(v) for v in w),
                b,
            )
        )
    g.unpersist()
    return spark.createDataFrame(
        rows,
        "step int, n_mistakes long, accuracy double, w_l1 long,"
        " bias_grid long",
    ).orderBy("step")


# --------------------------------------------------------------------
# Histogram-based decision stump (regression tree depth 1) predicting
# l_quantity from l_extendedprice — the tree-model family opener,
# built the way distributed GBM libraries (LightGBM/XGBoost hist
# mode) do split finding: the corpus collapses to a FIXED-WIDTH
# value-histogram of exact integer label moments (n, sum_y, sum_y2
# per price bin — ONE map-side-combinable aggregate), and every
# candidate split = a bin edge is scored from cumulative sums over
# that bounded bin frame. No per-candidate corpus pass, no sort of
# the raw data; the corpus cost is one scan at ANY candidate count.
#
# Split score: variance reduction == maximizing sum_l^2/n_l +
# sum_r^2/n_r. Scored as the exact SSE-reduction rational
#   gain = (sl^2*nr*nt + sr^2*nl*nt - st^2*nl*nr) / (nl*nr*nt)
# carried as floor(gain * 1e6) in decimal(38,0): the numerator is
# non-negative (Cauchy-Schwarz), so floor division is engine-stable
# (Spark decimal `div` == DuckDB HUGEINT `//` on non-negatives — the
# KS precedent). Envelope: numerator*1e6 <= (sum_y)^2 * n * 1e6 ~
# 3e32 at sf0.1, 38-digit-safe through ~sf30; re-audit beyond.
# Argmax tie-break: smallest threshold.
#
# The bin width 2^14 cents (~$164) is a VALUE-DOMAIN constant: the
# bin frame is range/16384 rows at any corpus size.
# --------------------------------------------------------------------

_STUMP_BIN_W = 16384  # cents; 2^14 so the division is exact-friendly
_STUMP_GAIN_SCALE = 1_000_000

_STUMP_CENTS = "cast(floor(l_extendedprice * 100e0 + 0.5e0) as bigint)"

_STUMP_ORACLE = f"""
WITH b AS (
  SELECT ({_STUMP_CENTS}) // {_STUMP_BIN_W} AS bin_id,
         CAST(l_quantity AS BIGINT) AS y
  FROM lineitem
),
bins AS (
  SELECT bin_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sy
  FROM b GROUP BY bin_id
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(sy) AS BIGINT) AS st
  FROM bins
),
cum AS (
  SELECT bin_id,
         CAST(SUM(n) OVER (ORDER BY bin_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS nl,
         CAST(SUM(sy) OVER (ORDER BY bin_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS sl
  FROM bins
),
cand AS (
  SELECT c.bin_id,
         (c.bin_id + 1) * {_STUMP_BIN_W} AS threshold_cents,
         c.nl, t.nt - c.nl AS nr, c.sl, t.st - c.sl AS sr, t.nt, t.st
  FROM cum c CROSS JOIN tot t
  WHERE c.nl < t.nt
),
scored AS (
  SELECT threshold_cents, nl, nr, sl, sr,
         CAST((CAST(sl AS HUGEINT) * sl * nr * nt
               + CAST(sr AS HUGEINT) * sr * nl * nt
               - CAST(st AS HUGEINT) * st * nl * nr)
              * {_STUMP_GAIN_SCALE}
              // (CAST(nl AS HUGEINT) * nr * nt) AS HUGEINT)
           AS gain_sse_x1e6
  FROM cand
)
SELECT t.nt AS n_rows,
       s.threshold_cents,
       s.nl AS n_left, s.nr AS n_right,
       s.sl AS sum_y_left, s.sr AS sum_y_right,
       CAST(s.gain_sse_x1e6 AS BIGINT) AS gain_sse_x1e6,
       CAST(s.sl AS DOUBLE) / CAST(s.nl AS DOUBLE) AS mean_left,
       CAST(s.sr AS DOUBLE) / CAST(s.nr AS DOUBLE) AS mean_right
FROM (SELECT * FROM scored
      ORDER BY gain_sse_x1e6 DESC, threshold_cents LIMIT 1) s
CROSS JOIN tot t
"""


@register("ml_decision_stump_price_qty", oracle=_STUMP_ORACLE)
def ml_decision_stump_price_qty(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Best depth-1 regression split of l_quantity on l_extendedprice
    via histogram split finding: one integer label-moment histogram
    over 2^14-cent price bins, cumulative-sum candidate scoring on
    the bounded bin frame, exact-rational SSE-reduction argmax
    (floor(gain*1e6), smallest-threshold tie-break). Output: one row
    with the threshold, side counts/sums, gain, and the two side
    means (the stump's predictions — each ONE IEEE division). See
    the section comment for the scale/envelope contract.
    """
    b = load_table(spark, sf_dir, "lineitem").selectExpr(
        f"({_STUMP_CENTS}) div {_STUMP_BIN_W} as bin_id",
        "cast(l_quantity as bigint) as y",
    )
    bins = b.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
    )
    return stump_best_from_bins(bins)


def stump_best_from_bins(bins: DataFrame) -> DataFrame:
    """Score every bin edge of a (bin_id, n, sy) label-moment
    histogram and return the 1-row best-split frame (n_rows,
    threshold_cents, side counts/sums, gain, side means) — shared by
    the batch stump and the streaming histogram refresh (so the
    served split cannot drift from the batch definition)."""
    from pyspark.sql import Window

    tot = bins.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("sy").cast("long").alias("st"),
    )
    w = Window.orderBy("bin_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bins.select(
        "bin_id",
        F.sum("n").over(w).cast("long").alias("nl"),
        F.sum("sy").over(w).cast("long").alias("sl"),
    )
    cand = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("nl") < F.col("nt"))
        .selectExpr(
            f"(bin_id + 1) * {_STUMP_BIN_W} as threshold_cents",
            "nl",
            "nt - nl as nr",
            "sl",
            "st - sl as sr",
            "nt",
            "st",
        )
    )
    scored = cand.selectExpr(
        "threshold_cents",
        "nl",
        "nr",
        "sl",
        "sr",
        "cast((cast(sl as decimal(38,0)) * sl * nr * nt"
        " + cast(sr as decimal(38,0)) * sr * nl * nt"
        " - cast(st as decimal(38,0)) * st * nl * nr)"
        f" * {_STUMP_GAIN_SCALE}"
        " div (cast(nl as decimal(38,0)) * nr * nt) as decimal(38,0))"
        " as gain_sse_x1e6",
    )
    best = scored.orderBy(
        F.desc("gain_sse_x1e6"), "threshold_cents"
    ).limit(1)
    return best.crossJoin(F.broadcast(tot)).selectExpr(
        "nt as n_rows",
        "threshold_cents",
        "nl as n_left",
        "nr as n_right",
        "sl as sum_y_left",
        "sr as sum_y_right",
        "cast(gain_sse_x1e6 as bigint) as gain_sse_x1e6",
        "cast(sl as double) / cast(nl as double) as mean_left",
        "cast(sr as double) / cast(nr as double) as mean_right",
    )


# --------------------------------------------------------------------
# Gradient-boosted stumps (3 rounds, learning rate 1, squared loss)
# on the same histogram machinery as ml_decision_stump_price_qty —
# the boosting lifecycle: each round fits the best depth-1 split to
# the CURRENT residual and subtracts its side-mean predictions.
# For squared loss the gradient IS the residual, so this is honest
# gradient boosting in its simplest exact form.
#
# Exactness ladder (every hashed column an exact integer):
# - Labels ride a FIXED-POINT x1e4 grid (r0 = l_quantity * 1e4);
#   every round's predictions are FLOORED to the same grid
#   (pred = floor(sum_r / n_side)), so residuals stay integers on
#   one common scale across rounds — no denominator blow-up, no
#   IEEE drift. Residual sums go negative from round 2, so the
#   prediction floor uses the non-negative-remainder identity
#   (Spark `div` truncates, DuckDB `//` floors — the Theil-Sen
#   rule); the GAIN divisions stay plain div/// because the SSE
#   reduction numerator is non-negative (Cauchy-Schwarz).
# - Split score per round: the exact integer
#   floor((sl^2*nr*nt + sr^2*nl*nt - st^2*nl*nr) / (nl*nr*nt)) in
#   fp^2 units (already x1e8), decimal(38,0)/HUGEINT; smallest-
#   threshold tie-break. Envelope: numerator <= (6e5*5e5)^2 * 3.6e11
#   ~ 3e34 at sf0.1 — 38-digit-safe through roughly sf0.5 of
#   lineitem; re-audit beyond (widen to a two-limb compare).
# - sse_after_fp2 = sum(r^2) <= 6e5 * 1e12 ~ 6e17 — int64-safe at
#   sf0.1, stated.
#
# Scale shape: the corpus is persisted ONCE as (cents, r0); each
# round is one map-side-combinable histogram over the shared
# 2^14-cent bins (bounded frame) + a 1-row broadcast of the round's
# (threshold, pred_l, pred_r) back into the next round's map stage.
# 3 rounds = 4 scans of the persisted (cents, residual) projection
# (3 histograms, each also summing r^2 so round k's histogram is
# round k-1's SSE audit, + 1 final SSE scan). Per-round state is the
# collected 1-row best split (the bounded Lloyd/perceptron trainer
# protocol).
# --------------------------------------------------------------------

_GBT_ROUNDS = 3
_GBT_FP = 10_000


def _gbt_round_ctes(i: int, src: str) -> str:
    """DuckDB CTE block for boosting round i reading residuals from
    relation `src` (columns c = price cents, r = residual_x1e4):
    defines bins{i}, tot{i}, cum{i}, best{i}, resid{i}."""
    return f"""
bins{i} AS (
  SELECT c // {_STUMP_BIN_W} AS bin_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(r) AS BIGINT) AS s
  FROM {src} GROUP BY 1
),
tot{i} AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS BIGINT) AS st
  FROM bins{i}
),
cum{i} AS (
  SELECT bin_id,
         CAST(SUM(n) OVER (ORDER BY bin_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS nl,
         CAST(SUM(s) OVER (ORDER BY bin_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS sl
  FROM bins{i}
),
best{i} AS (
  SELECT (bin_id + 1) * {_STUMP_BIN_W} AS thr,
         nl, t.nt - nl AS nr, sl, t.st - sl AS sr,
         CAST((CAST(sl AS HUGEINT) * sl * (t.nt - nl) * t.nt
               + CAST(t.st - sl AS HUGEINT) * (t.st - sl) * nl * t.nt
               - CAST(t.st AS HUGEINT) * t.st * nl * (t.nt - nl))
              // (CAST(nl AS HUGEINT) * (t.nt - nl) * t.nt)
              AS BIGINT) AS gain_fp2,
         (sl - ((sl % nl + nl) % nl)) // nl AS pl,
         ((t.st - sl) - (((t.st - sl) % (t.nt - nl) + (t.nt - nl))
                         % (t.nt - nl))) // (t.nt - nl) AS pr
  FROM cum{i} CROSS JOIN tot{i} t
  WHERE nl < t.nt
  ORDER BY gain_fp2 DESC, thr
  LIMIT 1
),
resid{i} AS (
  SELECT s.c,
         s.r - CASE WHEN s.c < b.thr THEN b.pl ELSE b.pr END AS r
  FROM {src} s CROSS JOIN best{i} b
)"""


def _gbt_oracle() -> str:
    parts = [
        f"""WITH base AS (
  SELECT {_STUMP_CENTS} AS c,
         CAST(l_quantity AS BIGINT) * {_GBT_FP} AS r
  FROM lineitem
)"""
    ]
    for i in range(1, _GBT_ROUNDS + 1):
        src = "base" if i == 1 else f"resid{i - 1}"
        parts.append(_gbt_round_ctes(i, src))
    selects = []
    for i in range(1, _GBT_ROUNDS + 1):
        selects.append(f"""
SELECT {i} AS round, b.thr AS threshold_cents,
       b.nl AS n_left, b.nr AS n_right,
       b.pl AS pred_left_x1e4, b.pr AS pred_right_x1e4,
       b.gain_fp2,
       (SELECT CAST(SUM(CAST(r AS HUGEINT) * r) AS BIGINT)
        FROM resid{i}) AS sse_after_fp2
FROM best{i} b""")
    return ",".join(parts) + "\nSELECT * FROM (" + (
        " UNION ALL ".join(selects)
    ) + ") ORDER BY round"


def _gbt_fit_round(df: DataFrame) -> DataFrame:
    """One boosting round over (c, r): returns the 1-row best-split
    frame (thr, nl, nr, sl, sr, gain_fp2, pl, pr)."""
    from pyspark.sql import Window

    bins = (
        df.selectExpr(f"c div {_STUMP_BIN_W} as bin_id", "r")
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("r").cast("long").alias("s"),
            F.sum(F.col("r").cast("decimal(38,0)") * F.col("r"))
            .cast("long")
            .alias("s2"),
        )
    )
    tot = bins.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
        F.sum("s2").cast("long").alias("st2"),
    )
    w = Window.orderBy("bin_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bins.select(
        "bin_id",
        F.sum("n").over(w).cast("long").alias("nl"),
        F.sum("s").over(w).cast("long").alias("sl"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("nl") < F.col("nt"))
        .selectExpr(
            f"(bin_id + 1) * {_STUMP_BIN_W} as thr",
            "nl",
            "nt - nl as nr",
            "sl",
            "st - sl as sr",
            "cast((cast(sl as decimal(38,0)) * sl * (nt - nl) * nt"
            " + cast(st - sl as decimal(38,0)) * (st - sl) * nl * nt"
            " - cast(st as decimal(38,0)) * st * nl * (nt - nl))"
            " div (cast(nl as decimal(38,0)) * (nt - nl) * nt)"
            " as bigint) as gain_fp2",
            "(sl - ((sl % nl + nl) % nl)) div nl as pl",
            "((st - sl) - (((st - sl) % (nt - nl) + (nt - nl))"
            " % (nt - nl))) div (nt - nl) as pr",
            "st2",
        )
        .orderBy(F.desc("gain_fp2"), "thr")
        .limit(1)
    )


@register("ml_gbt_stumps_train", oracle=_gbt_oracle())
def ml_gbt_stumps_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round gradient-boosted histogram stumps of l_quantity on
    l_extendedprice: per round one bounded-bin histogram over the
    persisted (cents, residual) projection, with the round's 1-row
    best split collected to the driver and injected back as literals
    (the bounded Lloyd/perceptron trainer protocol — collecting the
    1-row frame instead of broadcasting it avoids re-evaluating the
    whole boosting lineage once per downstream reference, a measured
    12x on the bench). Output: one row per round with the split, the
    fixed-point x1e4 side predictions, the exact fp^2 gain, and the
    post-round training SSE (monotone non-increasing — pinned in
    pytest). SSE tracking rides the NEXT round's histogram (each
    bins pass also sums r^2), so the whole trainer is 4 corpus
    scans. See the section comment for the fixed-point contract and
    envelopes.
    """
    # scan_parallel was TRIED here and reverted (interleaved A/B:
    # 3.0-3.3s bare scan vs 4.0-4.6s repartitioned): the histogram
    # passes are cheap codegen integer aggregation, so the scan is
    # NOT per-row-work-bound and the repartition is pure added cost.
    base = (
        load_table(spark, sf_dir, "lineitem")
        .selectExpr(
            f"{_STUMP_CENTS} as c",
            f"cast(l_quantity as bigint) * {_GBT_FP} as r",
        )
        .persist()
    )
    try:
        rows = []
        cur = base
        for i in range(1, _GBT_ROUNDS + 1):
            best = _gbt_fit_round(cur).collect()[0]
            if i > 1:
                # this histogram's total r^2 is the PREVIOUS round's
                # post-update SSE
                rows[-1]["sse_after_fp2"] = int(best["st2"])
            rows.append(
                {
                    "round": i,
                    "threshold_cents": int(best["thr"]),
                    "n_left": int(best["nl"]),
                    "n_right": int(best["nr"]),
                    "pred_left_x1e4": int(best["pl"]),
                    "pred_right_x1e4": int(best["pr"]),
                    "gain_fp2": int(best["gain_fp2"]),
                    "sse_after_fp2": None,
                }
            )
            cur = cur.selectExpr(
                "c",
                f"r - (case when c < {int(best['thr'])}"
                f" then {int(best['pl'])}"
                f" else {int(best['pr'])} end) as r",
            )
        final_sse = cur.agg(
            F.sum(F.col("r").cast("decimal(38,0)") * F.col("r"))
            .cast("long")
            .alias("s2")
        ).collect()[0]["s2"]
        rows[-1]["sse_after_fp2"] = int(final_sse)
    finally:
        base.unpersist()
    return spark.createDataFrame(
        [
            (
                r["round"],
                r["threshold_cents"],
                r["n_left"],
                r["n_right"],
                r["pred_left_x1e4"],
                r["pred_right_x1e4"],
                r["gain_fp2"],
                r["sse_after_fp2"],
            )
            for r in rows
        ],
        "round int, threshold_cents bigint, n_left bigint,"
        " n_right bigint, pred_left_x1e4 bigint, pred_right_x1e4"
        " bigint, gain_fp2 bigint, sse_after_fp2 bigint",
    ).orderBy("round")


# --------------------------------------------------------------------
# Leave-one-group-out OLS influence: which slice of the data moves
# the model? For each l_returnflag group, refit the closed-form OLS
# (y = extendedprice cents ~ l_quantity, the ml_ols_qty_price model)
# WITHOUT that group and report the coefficient shift — the
# data-valuation primitive (group Shapley's first term / the
# "influence of a data source" audit a training pipeline runs before
# dropping or down-weighting a source).
#
# The whole point of the closed form here: LOO refits need NO second
# pass. ONE map-side-combinable aggregate produces per-group exact
# moment partials (n, Sx, Sy, Sxx, Sxy — x integer quantity, y
# integer cents); the full-data moments are the sum of the (bounded)
# group frame, and each group's LOO moments are global minus group —
# moment subtraction, the same algebra that makes the streaming OLS
# incremental.
#
# Determinism contract (found the hard way): a >2^53 exact integer
# numerator cast to DOUBLE is NOT engine-stable — DuckDB's
# HUGEINT->DOUBLE conversion can be 1 ulp off correct rounding
# (observed on alpha_loo at sf0.1). So every moment stays int64 and
# is converted to DOUBLE individually (BIGINT->DOUBLE is correctly
# rounded in both engines), and the normal-equation algebra
# (n*Sxy - Sx*Sy etc.) runs in fixed-order IEEE double space —
# identical op sequence => bit-identical quotients. sxy <= 5.5e8 per
# row keeps the int64 moments exact through ~sf1000.
#
# Scale: corpus cost = one scan; everything after rides the
# G-row group frame (G = 3 here; any bounded source count at 100 TB).
# --------------------------------------------------------------------

_LOO_ORACLE = """
WITH g AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(cast(floor(l_extendedprice * 100e0 + 0.5e0) as bigint))
              AS BIGINT) AS sy,
         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
              AS BIGINT) AS sxx,
         CAST(SUM(CAST(l_quantity AS BIGINT)
              * cast(floor(l_extendedprice * 100e0 + 0.5e0) as bigint))
              AS BIGINT) AS sxy
  FROM lineitem GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sx) AS BIGINT) AS sx,
         CAST(SUM(sy) AS BIGINT) AS sy, CAST(SUM(sxx) AS BIGINT) AS sxx,
         CAST(SUM(sxy) AS BIGINT) AS sxy
  FROM g
),
d AS (
  SELECT g.l_returnflag, g.n AS n_group, t.n - g.n AS n_loo,
         CAST(t.n AS DOUBLE) AS tn, CAST(t.sx AS DOUBLE) AS tsx,
         CAST(t.sy AS DOUBLE) AS tsy, CAST(t.sxx AS DOUBLE) AS tsxx,
         CAST(t.sxy AS DOUBLE) AS tsxy,
         CAST(t.n - g.n AS DOUBLE) AS ln, CAST(t.sx - g.sx AS DOUBLE) AS lsx,
         CAST(t.sy - g.sy AS DOUBLE) AS lsy,
         CAST(t.sxx - g.sxx AS DOUBLE) AS lsxx,
         CAST(t.sxy - g.sxy AS DOUBLE) AS lsxy
  FROM g CROSS JOIN tot t
)
SELECT l_returnflag, n_group, n_loo,
       (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx) AS beta_full,
       (tsy * tsxx - tsx * tsxy) / (tn * tsxx - tsx * tsx) AS alpha_full,
       (ln * lsxy - lsx * lsy) / (ln * lsxx - lsx * lsx) AS beta_loo,
       (lsy * lsxx - lsx * lsxy) / (ln * lsxx - lsx * lsx) AS alpha_loo,
       (ln * lsxy - lsx * lsy) / (ln * lsxx - lsx * lsx)
       - (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx) AS delta_beta
FROM d
ORDER BY l_returnflag
"""


@register("ml_loo_group_influence", oracle=_LOO_ORACLE)
def ml_loo_group_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-l_returnflag leave-one-group-out OLS influence on the
    quantity->price model: one exact moment-partial aggregate, LOO
    coefficients by moment subtraction on the bounded group frame,
    (beta_full, alpha_full, beta_loo, alpha_loo, delta_beta) with one
    IEEE division per surfaced coefficient. See the section comment.
    """
    cents = "cast(floor(l_extendedprice * 100e0 + 0.5e0) as bigint)"
    g = (
        load_table(spark, sf_dir, "lineitem")
        .selectExpr(
            "l_returnflag",
            "cast(l_quantity as bigint) as x",
            f"{cents} as y",
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        )
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("t_n"),
        F.sum("sx").cast("long").alias("t_sx"),
        F.sum("sy").cast("long").alias("t_sy"),
        F.sum("sxx").cast("long").alias("t_sxx"),
        F.sum("sxy").cast("long").alias("t_sxy"),
    )
    d = g.crossJoin(F.broadcast(tot)).selectExpr(
        "l_returnflag",
        "n as n_group",
        "t_n - n as n_loo",
        "cast(t_n as double) as tn",
        "cast(t_sx as double) as tsx",
        "cast(t_sy as double) as tsy",
        "cast(t_sxx as double) as tsxx",
        "cast(t_sxy as double) as tsxy",
        "cast(t_n - n as double) as ln",
        "cast(t_sx - sx as double) as lsx",
        "cast(t_sy - sy as double) as lsy",
        "cast(t_sxx - sxx as double) as lsxx",
        "cast(t_sxy - sxy as double) as lsxy",
    )
    return (
        d.selectExpr(
            "l_returnflag",
            "n_group",
            "n_loo",
            "(tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx)"
            " as beta_full",
            "(tsy * tsxx - tsx * tsxy) / (tn * tsxx - tsx * tsx)"
            " as alpha_full",
            "(ln * lsxy - lsx * lsy) / (ln * lsxx - lsx * lsx)"
            " as beta_loo",
            "(lsy * lsxx - lsx * lsxy) / (ln * lsxx - lsx * lsx)"
            " as alpha_loo",
            "(ln * lsxy - lsx * lsy) / (ln * lsxx - lsx * lsx)"
            " - (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx)"
            " as delta_beta",
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------
# Simplified-silhouette evaluation of the TRAINED k-means clustering
# (ml_kmeans_lloyd_embeddings) — the missing eval leg of the
# clustering arc (train -> elbow -> silhouette). Full silhouette is
# O(n^2) pairwise; the simplified (centroid-based) silhouette
# replaces mean intra/inter distances with distances to centroids —
# the standard large-scale surrogate, and on the integer grid it is
# EXACT: a2 = squared grid distance to the own (nearest) centroid,
# b2 = squared distance to the second-nearest, per-point score
# s2 = (b2 - a2) / b2 in [0, 1) carried as floor(s2 * 1e6) (the
# numerator is non-negative because assignment IS argmin, so floor
# division is engine-stable; b2 = 0 => 0 by convention).
#
# The trainer is replayed exactly (same seeding, same 3 Lloyd
# steps, driver-held K x D = 1024-int state — the bounded-trainer
# protocol), so the evaluated quantizer IS the registered trained
# artifact; the oracle re-derives it through the same unrolled
# chain CTEs the kmeans oracle uses, then scores every point
# against the chain's final centroids.
#
# Scale: scoring is map-only (16 literal folds per row); the output
# aggregate is K rows. mean numerators stay < 2^53 through ~9e9
# points per cell (stated).
# --------------------------------------------------------------------

_SIL_SCALE = 1_000_000
_SIL_WEAK_X1E6 = 200_000  # s2 < 0.2 => weakly separated point


def _silhouette_oracle() -> str:
    return f"""WITH {_KM_BASE_CTES},
{_km_chain_ctes(_KM_K)},
cfin AS (
  SELECT cell, dim, cg FROM c{_KM_ITERS}
),
pd AS (
  SELECT gg.vec_id, c.cell,
         CAST(SUM((gg.val - c.cg) * (gg.val - c.cg)) AS BIGINT) AS dist2
  FROM glong gg JOIN cfin c USING (dim)
  GROUP BY gg.vec_id, c.cell
),
ranked AS (
  SELECT vec_id, cell, dist2,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id ORDER BY dist2, cell) AS rn
  FROM pd
),
pts AS (
  SELECT a.vec_id, a.cell, a.dist2 AS a2, b.dist2 AS b2,
         CASE WHEN b.dist2 = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST((CAST(b.dist2 - a.dist2 AS HUGEINT)
                         * {_SIL_SCALE}) // b.dist2 AS BIGINT)
         END AS s2_x1e6
  FROM (SELECT * FROM ranked WHERE rn = 1) a
  JOIN (SELECT * FROM ranked WHERE rn = 2) b USING (vec_id)
)
SELECT cell,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(s2_x1e6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS mean_s2_x1e6,
       CAST(MIN(s2_x1e6) AS BIGINT) AS min_s2_x1e6,
       CAST(COUNT(CASE WHEN s2_x1e6 < {_SIL_WEAK_X1E6} THEN 1 END)
            AS BIGINT) AS n_weak
FROM pts
GROUP BY cell
ORDER BY cell"""


@register("ml_kmeans_silhouette_eval", oracle=_silhouette_oracle())
def ml_kmeans_silhouette_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-cluster simplified silhouette of the trained k-means
    quantizer: (cell, n_points, mean_s2_x1e6, min_s2_x1e6, n_weak)
    where s2 = (b2 - a2)/b2 on exact integer grid distances, a2/b2 =
    squared distance to the nearest / second-nearest trained
    centroid. Map-only scoring via 16 literal distance folds; the
    oracle re-derives the trained centroids through the kmeans chain
    CTEs. See the section comment.
    """
    from workshop3_etl_spark.functions.cache import materialize_and_release

    g = _km_grid_frame(spark, sf_dir).persist()
    cents = _km_seed_cents(g, _KM_K)
    for _ in range(_KM_ITERS - 1):
        cents = _km_update_collect(g, cents)
    cents = _km_update_collect(g, cents)  # the trained quantizer
    folds = ", ".join(
        "aggregate(zip_with(g, array("
        + ", ".join(f"{int(v)}L" for v in c)
        + "), (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
        for c in cents
    )
    pts = (
        g.selectExpr("vec_id", f"array({folds}) as ds")
        .selectExpr(
            "vec_id",
            "cast(array_position(ds, array_min(ds)) - 1 as int) as cell",
            "array_min(ds) as a2",
            "element_at(array_sort(ds), 2) as b2",
        )
        .selectExpr(
            "vec_id",
            "cell",
            "case when b2 = 0 then 0L"
            f" else cast((cast(b2 - a2 as decimal(38,0)) * {_SIL_SCALE})"
            " div b2 as bigint) end as s2_x1e6",
        )
    )
    out = (
        pts.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            (
                F.sum("s2_x1e6").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_s2_x1e6"),
            F.min("s2_x1e6").cast("long").alias("min_s2_x1e6"),
            F.sum(
                F.when(F.col("s2_x1e6") < _SIL_WEAK_X1E6, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_weak"),
        )
        .orderBy("cell")
    )
    return materialize_and_release(out, g)


# --------------------------------------------------------------------
# Isotonic regression (PAVA) of l_quantity on binned l_extendedprice
# — the monotone-calibration primitive (the order-preserving curve a
# scored model's outputs get calibrated through). Rather than the
# sequential pool-adjacent-violators loop, the fit uses the MINIMAX
# characterization of isotonic regression:
#
#     iso_i = max_{j <= i} min_{k >= i} avg(y over bins j..k)
#
# which is loop-free and relational: with B ordered bins it is a
# bounded B^3 enumeration over the AGGREGATED bin frame — the corpus
# pays one map-side-combinable (bin -> n, sum) pass, everything else
# rides <= B^2 tiny-frame joins. B = 10 equal-WIDTH price bins from
# the broadcast min/max (never an ntile corpus sort — the DSIR
# advice rule); empty bins are skipped and the occupied bins
# renumbered, so the fit is over the realized ordered sequence.
#
# Determinism: bin sums/counts are exact integers; every range
# average is ONE IEEE division of < 2^53 integers (correctly rounded
# in both engines); min/max over those doubles is order-free. The
# fitted curve is non-decreasing by construction (pinned in pytest
# against a sequential exact-fraction PAVA recompute).
# --------------------------------------------------------------------

_ISO_BINS = 10

_ISO_ORACLE = f"""
WITH b AS (
  SELECT cast(floor(l_extendedprice * 100e0 + 0.5e0) as bigint) AS c,
         CAST(l_quantity AS BIGINT) AS y
  FROM lineitem
),
mm AS (SELECT MIN(c) AS lo, MAX(c) AS hi FROM b),
binned AS (
  SELECT ((b.c - m.lo) * {_ISO_BINS}) // (m.hi - m.lo + 1) AS bin_id,
         b.y
  FROM b CROSS JOIN mm m
),
bins AS (
  SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sy
  FROM binned GROUP BY bin_id
),
idx AS (
  SELECT bin_id, n, sy,
         ROW_NUMBER() OVER (ORDER BY bin_id) AS i
  FROM bins
),
cum AS (
  SELECT i, bin_id, n, sy,
         CAST(SUM(n) OVER (ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cc,
         CAST(SUM(sy) OVER (ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cs
  FROM idx
),
z AS (
  SELECT i, cc, cs FROM cum
  UNION ALL SELECT 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
),
ranges AS (
  SELECT lo.i + 1 AS j, hi.i AS k,
         CAST(hi.cs - lo.cs AS DOUBLE)
           / CAST(hi.cc - lo.cc AS DOUBLE) AS avg_y
  FROM z lo JOIN cum hi ON lo.i < hi.i
),
inner_min AS (
  SELECT x.i, r.j, MIN(r.avg_y) AS m
  FROM idx x JOIN ranges r ON r.j <= x.i AND r.k >= x.i
  GROUP BY x.i, r.j
),
fit AS (
  SELECT i, MAX(m) AS iso_mean FROM inner_min GROUP BY i
)
SELECT c.bin_id,
       CAST(m.lo + (c.bin_id * (m.hi - m.lo + 1)) // {_ISO_BINS}
            AS BIGINT) AS lo_edge_cents,
       c.n, c.sy AS sum_y,
       CAST(c.sy AS DOUBLE) / CAST(c.n AS DOUBLE) AS raw_mean,
       f.iso_mean
FROM cum c JOIN fit f USING (i) CROSS JOIN mm m
ORDER BY c.bin_id
"""


@register("ml_isotonic_calibration_bins", oracle=_ISO_ORACLE)
def ml_isotonic_calibration_bins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic (PAVA) fit of mean l_quantity over 10 equal-width
    price bins via the loop-free minimax characterization on the
    bounded bin frame: (bin_id, lo_edge_cents, n, sum_y, raw_mean,
    iso_mean) with iso_mean non-decreasing. One corpus aggregate;
    see the section comment for the exactness contract."""
    from pyspark.sql import Window

    b = load_table(spark, sf_dir, "lineitem").selectExpr(
        "cast(floor(l_extendedprice * 100e0 + 0.5e0) as bigint) as c",
        "cast(l_quantity as bigint) as y",
    )
    mm = b.agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
    binned = b.crossJoin(F.broadcast(mm)).selectExpr(
        f"((c - lo) * {_ISO_BINS}) div (hi - lo + 1) as bin_id", "y"
    )
    bins = binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
    )
    idx = bins.withColumn(
        "i", F.row_number().over(Window.orderBy("bin_id"))
    )
    wcum = Window.orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = idx.select(
        "i",
        "bin_id",
        "n",
        "sy",
        F.sum("n").over(wcum).cast("long").alias("cc"),
        F.sum("sy").over(wcum).cast("long").alias("cs"),
    )
    z = cum.select("i", "cc", "cs").unionByName(
        cum.sparkSession.createDataFrame(
            [(0, 0, 0)], "i long, cc long, cs long"
        )
    )
    ranges = (
        z.alias("lo")
        .join(
            F.broadcast(cum.alias("hi")),
            F.col("lo.i") < F.col("hi.i"),
        )
        .selectExpr(
            "lo.i + 1 as j",
            "hi.i as k",
            "cast(hi.cs - lo.cs as double)"
            " / cast(hi.cc - lo.cc as double) as avg_y",
        )
    )
    inner_min = (
        idx.select(F.col("i"))
        .join(
            F.broadcast(ranges),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("avg_y").alias("m"))
    )
    fit = inner_min.groupBy("i").agg(F.max("m").alias("iso_mean"))
    return (
        cum.join(F.broadcast(fit), "i")
        .crossJoin(F.broadcast(mm))
        .selectExpr(
            "bin_id",
            f"cast(lo + (bin_id * (hi - lo + 1)) div {_ISO_BINS}"
            " as bigint) as lo_edge_cents",
            "n",
            "sy as sum_y",
            "cast(sy as double) / cast(n as double) as raw_mean",
            "iso_mean",
        )
        .orderBy("bin_id")
    )
