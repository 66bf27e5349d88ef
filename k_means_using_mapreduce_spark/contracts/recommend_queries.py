"""ALS recommender contracts (operators/recommend.py): deterministic
hash factor init, one closed-form rank-2 user half-step over TPC-H
implicit ratings (customer × part quantities), and top-k
recommendations from those factors."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.loaders import load_table

RANK = 2
REG = 0.1
SEED = 0
TOPK = 3
#: keep the recommendation contract's user set small (1-in-20 users)
USER_MOD = 20

_TWO_60 = float(1 << 60)


def _sql_factor(id_expr: str, j: int) -> str:
    """DuckDB twin of operators/recommend.py::_hash_unit for seed 0."""
    return (
        f"((('0x' || substr(md5('{SEED}:' || CAST({id_expr} AS VARCHAR) "
        f"|| ':{j}'), 1, 15))::BIGINT + 0.5) / {_TWO_60} - 0.5)"
    )


_RATINGS_CTE = """
ratings AS (
  SELECT o_custkey AS "user", l_partkey AS item,
         sum(CAST(l_quantity AS DOUBLE)) AS rating
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
)
"""

_ITEM_FACTORS_CTE = f"""
item_factors AS (
  SELECT p_partkey AS item,
         {_sql_factor('p_partkey', 0)} AS y0,
         {_sql_factor('p_partkey', 1)} AS y1
  FROM part
)
"""

_USER_SOLVE_CTE = f"""
sums AS (
  SELECT r."user",
         sum(y0 * y0) AS a00, sum(y0 * y1) AS a01, sum(y1 * y1) AS a11,
         sum(y0 * rating) AS b0, sum(y1 * rating) AS b1
  FROM ratings r JOIN item_factors USING (item)
  GROUP BY 1
),
user_factors AS (
  SELECT "user",
         ((a11 + {REG}) * b0 - a01 * b1)
           / ((a00 + {REG}) * (a11 + {REG}) - a01 * a01) AS x0,
         ((a00 + {REG}) * b1 - a01 * b0)
           / ((a00 + {REG}) * (a11 + {REG}) - a01 * a01) AS x1
  FROM sums
)
"""


def _user_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.recommend import (
        als_half_step,
        hash_init_factors,
        implicit_ratings,
    )

    ratings = implicit_ratings(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    items = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id")
    )
    item_f = hash_init_factors(items, rank=RANK, seed=SEED)
    return als_half_step(ratings, item_f, rank=RANK, reg=REG)


def als_item_factors_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic md5-uniform factor init for every part —
    the fixed side of the first ALS half-step."""
    from ..operators.recommend import hash_init_factors

    items = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("item")
    )
    out = hash_init_factors(items, rank=RANK, seed=SEED, id_col="item")
    return out.select(
        "item",
        F.col("factors")[0].alias("y0"),
        F.col("factors")[1].alias("y1"),
    )


ALS_ITEM_INIT_SQL = f"WITH {_ITEM_FACTORS_CTE} SELECT * FROM item_factors"


def als_user_half_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form rank-2 ridge solve of every customer's factors
    against the hash-initialized part factors."""
    out = _user_factors(spark, sf_dir)
    return out.select(
        "user",
        F.col("factors")[0].alias("x0"),
        F.col("factors")[1].alias("x1"),
    )


ALS_USER_STEP_SQL = (
    f"WITH {_RATINGS_CTE}, {_ITEM_FACTORS_CTE}, {_USER_SOLVE_CTE}"
    ' SELECT "user", x0, x1 FROM user_factors'
)


def als_recommend_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per sampled customer (1-in-20) by factor dot
    product after the first half-step — the retrieval read path."""
    from ..operators.recommend import recommend_topk

    user_f = _user_factors(spark, sf_dir).where(
        F.col("user") % USER_MOD == 0
    )
    items = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("item")
    )
    from ..operators.recommend import hash_init_factors

    item_f = hash_init_factors(items, rank=RANK, seed=SEED, id_col="item")
    out = recommend_topk(user_f, item_f, k=TOPK, rank=RANK)
    return out.select("user", "item", "score", F.col("rank").cast("long").alias("rank"))


ALS_RECOMMEND_SQL = (
    f"WITH {_RATINGS_CTE}, {_ITEM_FACTORS_CTE}, {_USER_SOLVE_CTE}"
    + f"""
SELECT "user", item, score, rank FROM (
  SELECT u."user", f.item, u.x0 * f.y0 + u.x1 * f.y1 AS score,
         CAST(row_number() OVER (
           PARTITION BY u."user"
           ORDER BY u.x0 * f.y0 + u.x1 * f.y1 DESC, f.item
         ) AS BIGINT) AS rank
  FROM user_factors u CROSS JOIN item_factors f
  WHERE u."user" % {USER_MOD} = 0
) WHERE rank <= {TOPK}
"""
)


QUERIES = {
    "als_item_factors_init": als_item_factors_init,
    "als_user_half_step": als_user_half_step,
    "als_recommend_parts": als_recommend_parts,
}

ORACLE_SQL = {
    "als_item_factors_init": ALS_ITEM_INIT_SQL,
    "als_user_half_step": ALS_USER_STEP_SQL,
    "als_recommend_parts": ALS_RECOMMEND_SQL,
}


HOLD_MOD = 5  # 1-in-5 interactions held out
EVAL_USER_MOD = 5  # evaluate 1-in-5 users (bounds the item fan-out)
EVAL_K = 5


def als_holdout_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-interactions-out evaluation: hold out 1-in-5 (user,item)
    pairs by md5, fit one user half-step on the rest, and measure
    hit-rate@5 of the held-out pairs for the sampled users."""
    from ..operators.recommend import (
        als_half_step,
        hash_init_factors,
        holdout_hitrate,
        implicit_ratings,
        recommend_topk_gemm,
    )
    from ..operators.sampling import hash_bucket

    ratings = implicit_ratings(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    ).withColumn(
        "fold", hash_bucket(F.concat_ws(":", "user", "item"), HOLD_MOD)
    )
    train = ratings.where(F.col("fold") != 0)
    held = ratings.where(
        (F.col("fold") == 0) & (F.col("user") % EVAL_USER_MOD == 0)
    )
    items = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id")
    )
    item_f = hash_init_factors(items, rank=RANK, seed=SEED)
    user_f = als_half_step(train, item_f, rank=RANK, reg=REG).where(
        F.col("user") % EVAL_USER_MOD == 0
    )
    # GEMM-kernel retrieval (round-8 de-quadratification): exact and
    # tie-identical to recommend_topk, without |users|x|items| rows
    # through two ranking windows — see recommend_topk_gemm docstring
    recs = recommend_topk_gemm(
        user_f,
        item_f.withColumnRenamed("id", "item"),
        k=EVAL_K,
    )
    return holdout_hitrate(held, recs)


ALS_HITRATE_SQL = f"""
WITH {_RATINGS_CTE.strip()}, {_ITEM_FACTORS_CTE.strip()},
folded AS (
  SELECT *, ('0x' || substr(md5(CAST("user" AS VARCHAR) || ':'
                                || CAST(item AS VARCHAR)), 1, 15))
              ::BIGINT % {HOLD_MOD} AS fold
  FROM ratings
),
train AS (SELECT * FROM folded WHERE fold <> 0),
held AS (
  SELECT "user", item FROM folded
  WHERE fold = 0 AND "user" % {EVAL_USER_MOD} = 0
),
sums AS (
  SELECT r."user",
         sum(y0 * y0) AS a00, sum(y0 * y1) AS a01, sum(y1 * y1) AS a11,
         sum(y0 * rating) AS b0, sum(y1 * rating) AS b1
  FROM train r JOIN item_factors USING (item)
  GROUP BY 1
),
user_factors AS (
  SELECT "user",
         ((a11 + {REG}) * b0 - a01 * b1)
           / ((a00 + {REG}) * (a11 + {REG}) - a01 * a01) AS x0,
         ((a00 + {REG}) * b1 - a01 * b0)
           / ((a00 + {REG}) * (a11 + {REG}) - a01 * a01) AS x1
  FROM sums WHERE "user" % {EVAL_USER_MOD} = 0
),
recs AS (
  SELECT "user", item FROM (
    SELECT u."user", f.item,
           row_number() OVER (
             PARTITION BY u."user"
             ORDER BY u.x0 * f.y0 + u.x1 * f.y1 DESC, f.item
           ) AS rk
    FROM user_factors u CROSS JOIN item_factors f
  ) WHERE rk <= {EVAL_K}
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_holdout,
         CAST(count(DISTINCT "user") AS BIGINT) AS users_evaluated
  FROM held
),
h AS (
  SELECT CAST(count(*) AS BIGINT) AS hits
  FROM held SEMI JOIN recs USING ("user", item)
)
SELECT n_holdout, users_evaluated, hits,
       hits / CAST(n_holdout AS DOUBLE) AS hit_rate
FROM agg CROSS JOIN h
"""

QUERIES["als_holdout_hitrate"] = als_holdout_hitrate
ORACLE_SQL["als_holdout_hitrate"] = ALS_HITRATE_SQL
