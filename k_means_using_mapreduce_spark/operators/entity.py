"""Entity resolution: blocked candidate generation over structured
records.

The record-linkage counterpart of the document-dedup family: documents
dedup by content hashing (operators/dedup.py), but ENTITIES (customers,
suppliers, vendors) duplicate through typos and re-registrations —
near-identical names under the same coarse attributes. The standard
shape is block → pair-within-block → cheap distance filter → (a human
or model adjudicates survivors).

Scale notes: the self-join is EQUI on the blocking key, so the
quadratic blowup is bounded per block, exactly like LSH bands bound
shingle dedup; ``max_block_size`` drops oversized blocks (a blocking
key that captures half the table generates no usable candidates anyway
— refine the key instead), mirroring dedup.py's hot-shingle cap. The
id_a < id_b predicate halves the pair space and canonicalizes output.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def blocked_match_candidates(
    df: DataFrame,
    *,
    id_col: str,
    name_col: str,
    block_cols: Sequence[str],
    max_distance: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """Candidate duplicate pairs: same blocking key, name edit distance
    ≤ ``max_distance``. Output:
    ``(id_a, id_b, name_a, name_b, distance)`` with id_a < id_b.

    ``max_block_size`` excludes blocks larger than the cap BEFORE the
    self-join (the LSH-style degenerate-bucket guard); None disables.
    """
    block_cols = list(block_cols)
    if not block_cols:
        raise ValueError("blocked_match_candidates needs block_cols")
    if max_distance < 0:
        raise ValueError(f"max_distance must be >= 0, got {max_distance}")
    base = df.select(
        F.col(id_col).alias("_id"), F.col(name_col).alias("_name"), *block_cols
    )
    if max_block_size is not None:
        if max_block_size < 2:
            raise ValueError(f"max_block_size must be >= 2, got {max_block_size}")
        sizes = (
            base.groupBy(*block_cols)
            .agg(F.count("*").alias("_bn"))
            .where(F.col("_bn") <= max_block_size)
            .drop("_bn")
        )
        base = base.join(F.broadcast(sizes), block_cols, "left_semi")
    from ..sources.loaders import fan_out

    # fan_out the PROBE side: the block join broadcasts one side, so on
    # a single-row-group scan every within-block levenshtein comparison
    # (the quadratic per-block work) would run inside the one scan task
    # (guide §2.5; no-op when the scan is already wide). The hint keeps
    # the planner from picking the fanned side as the build side, which
    # would pay for the repartition and still probe in one task. The
    # (block key, id, name) projection must fit a broadcast.
    left = fan_out(base).select(
        *block_cols,
        F.col("_id").alias("id_a"),
        F.col("_name").alias("name_a"),
    )
    right = F.broadcast(
        base.select(
            *block_cols,
            F.col("_id").alias("id_b"),
            F.col("_name").alias("name_b"),
        )
    )
    pairs = left.join(right, block_cols).where(F.col("id_a") < F.col("id_b"))
    # threshold form: bounded-band DP that abandons a pair the moment
    # its distance exceeds the cap (returns -1) — O(max_distance·len)
    # per comparison instead of O(len²), the right cost model when most
    # within-block pairs are NOT matches
    return (
        pairs.withColumn(
            "distance",
            F.levenshtein(F.col("name_a"), F.col("name_b"), max_distance),
        )
        .where(F.col("distance") >= 0)
        .select("id_a", "id_b", "name_a", "name_b", "distance")
    )


def sorted_neighborhood_candidates(
    df: DataFrame,
    sort_key,
    *,
    id_col: str = "id",
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995): rank
    records by a fuzzy ``sort_key`` expression (e.g. a name prefix or
    phonetic code) and pair every record with its ``window`` successors
    in that order — ``(id_a, id_b, rank_gap)`` with id_a < id_b.

    The complementary failure mode to equi-blocking
    (:func:`blocked_match_candidates`): equi-blocks MISS matches whose
    blocking key disagrees (typo in the key itself), while the sorted
    neighborhood catches anything that sorts nearby — and its
    candidate count is EXACTLY ``n·window`` regardless of key skew, so
    no oversized-block cap is needed. Run both and union the pairs;
    that is the standard multi-pass method.

    Spark shape: one global rank (row_number over the sort order — a
    single-partition window, documented single-reducer cost at rank
    time; at 100 TB switch the rank to ``zipWithIndex`` over a
    range-partitioned sort) and a self-join on a ``window``-wide rank
    band via an exploded offset array — an equi-join on
    ``rank + offset``, never a cartesian. The join carries only
    (rank, id); attributes rejoin later by id.

    Ties in ``sort_key`` order deterministically by ``id_col``.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    from pyspark.sql.window import Window

    w = Window.orderBy(sort_key, F.col(id_col))
    ranked = df.select(
        F.col(id_col).alias("_id"), F.row_number().over(w).alias("_rk")
    )
    offsets = F.explode(
        F.array(*[F.lit(i) for i in range(1, window + 1)])
    ).alias("_off")
    left = ranked.select("_id", "_rk", offsets).select(
        F.col("_id").alias("id_a"),
        (F.col("_rk") + F.col("_off")).alias("_rk_b"),
        F.col("_off").alias("rank_gap"),
    )
    right = ranked.select(
        F.col("_id").alias("id_b"), F.col("_rk").alias("_rk_b")
    )
    pairs = left.join(right, "_rk_b").select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "rank_gap",
    )
    return pairs


def fs_u_probabilities(
    df: DataFrame, fields: Sequence[str]
) -> DataFrame:
    """Fellegi-Sunter u-probabilities estimated from the data itself:
    ``u_f = P(two RANDOM records agree on f) = Σ_v (n_v / N)²`` — the
    value-collision probability, computable exactly from one grouped
    count per field (no pair enumeration, no sampling). The classic
    "u from random pairing" estimator (Fellegi & Sunter 1969 §3;
    agreement among non-matches looks like agreement among random
    pairs when the match prevalence is low).

    Output: ``(field, u)``. Values compare on their string form so
    heterogeneous field types can share one pass: the fields unpivot
    into (field, value) rows, ONE groupBy counts every field's values
    together (map-side combinable), a second tiny aggregate sums the
    squared shares.

    The self-pair inclusion (a record always agrees with itself) is
    the standard simplification and overestimates u by O(1/N).
    """
    if not fields:
        raise ValueError("fields must be non-empty")
    n = df.count()
    if n == 0:
        raise ValueError("cannot estimate u-probabilities on an empty input")
    unpivoted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("field"),
                        F.col(f).cast("string").alias("value"),
                    )
                    for f in fields
                ]
            )
        ).alias("fv")
    ).select("fv.field", "fv.value")
    counts = unpivoted.groupBy("field", "value").count()
    share = F.col("count").cast("double") / F.lit(float(n))
    return (
        counts.groupBy("field")
        .agg(F.sum(share * share).alias("u"))
    )


def fs_score_pairs(
    pairs: DataFrame,
    agreements: dict[str, Column],
    m: dict[str, float],
    u: dict[str, float],
    *,
    upper: float,
    lower: float,
) -> DataFrame:
    """Fellegi-Sunter log-likelihood match scoring of candidate pairs.

    Each comparison field contributes its classic binary agreement
    weight — ``log2(m_f / u_f)`` on agreement, ``log2((1-m_f)/(1-u_f))``
    on disagreement — and the pair's total weight drives the three-way
    decision: ``match`` above ``upper``, ``non_match`` below ``lower``,
    ``possible`` (clerical-review band) between. (Fellegi & Sunter
    1969: this threshold rule is the provably optimal decision given
    the conditional-independence model.)

    ``agreements`` maps field → boolean Column over the pair row (NULL
    counts as disagreement); ``m``/``u`` must cover the same keys, with
    ``0 < u < m < 1`` (m ≤ u would make agreement evidence AGAINST a
    match — a configuration error, rejected). Weights are precomputed
    Python doubles folded in as literals and summed in the given field
    order, so any SQL oracle embedding the same literals reproduces the
    score bit-for-bit.

    Output: input columns + ``agree_<field>`` INT flags, ``weight``
    (double), ``decision`` (string). Pure per-row expression algebra —
    no shuffle beyond whatever produced the pairs.
    """
    import math

    if set(agreements) != set(m) or set(agreements) != set(u):
        raise ValueError("agreements, m, u must share the same field keys")
    if not agreements:
        raise ValueError("at least one comparison field is required")
    if lower > upper:
        raise ValueError(f"lower {lower} must be <= upper {upper}")
    for f in agreements:
        if not (0.0 < u[f] < m[f] < 1.0):
            raise ValueError(
                f"need 0 < u < m < 1 for field {f!r}, got m={m[f]}, u={u[f]}"
            )
    out = pairs
    weight = None
    for f, cond in agreements.items():
        w_agree = math.log2(m[f] / u[f])
        w_disagree = math.log2((1.0 - m[f]) / (1.0 - u[f]))
        flag = F.coalesce(cond, F.lit(False))
        out = out.withColumn(f"agree_{f}", flag.cast("int"))
        term = F.when(flag, F.lit(w_agree)).otherwise(F.lit(w_disagree))
        weight = term if weight is None else weight + term
    decision = (
        F.when(F.col("weight") > upper, "match")
        .when(F.col("weight") < lower, "non_match")
        .otherwise("possible")
    )
    return out.withColumn("weight", weight).withColumn("decision", decision)


def fs_em(
    pairs: DataFrame,
    fields: Sequence[str],
    *,
    iters: int = 10,
    init_m: float = 0.9,
    init_u: float = 0.1,
    init_p: float = 0.1,
) -> dict:
    """EM estimation of the Fellegi-Sunter parameters from UNLABELED
    candidate pairs (Winkler 1988) — the standard way to get ``m``
    when no training matches exist.

    ``pairs`` must carry ``agree_<field>`` 0/1 columns (the
    :func:`fs_score_pairs` flags). Each iteration is one map-side-
    combinable aggregate over the cached pairs (flat lineage, the
    K-Means driver-loop doctrine — operators/kmeans.py): the E-step
    posterior ``P(M|γ)`` is a per-row expression, the M-step
    re-estimates ``m_f = E[γ_f · w] / E[w]``, ``u_f`` likewise with
    ``1-w``, and the prevalence ``p = mean(w)``. Parameters are K
    floats on the driver — the only driver-side state.

    Returns ``{"m": {...}, "u": {...}, "p": float, "iters": int}``.
    Estimates are clamped to [1e-6, 1-1e-6] so a degenerate field
    cannot push a log-weight to ±inf.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not fields:
        raise ValueError("fields must be non-empty")
    eps = 1e-6
    m = {f: init_m for f in fields}
    u = {f: init_u for f in fields}
    p = init_p
    cached = pairs.select(
        *[F.col(f"agree_{f}").cast("double").alias(f) for f in fields]
    ).cache()
    try:
        for _ in range(iters):
            lm = math_log(p)
            lu = math_log(1.0 - p)
            for f in fields:
                g = F.col(f)
                lm = lm + g * math_log(m[f]) + (1 - g) * math_log(1.0 - m[f])
                lu = lu + g * math_log(u[f]) + (1 - g) * math_log(1.0 - u[f])
            # posterior via the stable logistic form
            w = F.lit(1.0) / (F.lit(1.0) + F.exp(lu - lm))
            aggs = [F.sum(w).alias("_sw"), F.count("*").alias("_n")]
            for f in fields:
                aggs.append(F.sum(w * F.col(f)).alias(f"_swg_{f}"))
                aggs.append(
                    F.sum((F.lit(1.0) - w) * F.col(f)).alias(f"_sng_{f}")
                )
            row = cached.agg(*aggs).collect()[0]
            sw, n = row["_sw"], row["_n"]
            clamp = lambda x: min(1.0 - eps, max(eps, x))  # noqa: E731
            for f in fields:
                m[f] = clamp(row[f"_swg_{f}"] / max(sw, eps))
                u[f] = clamp(row[f"_sng_{f}"] / max(n - sw, eps))
            p = clamp(sw / n)
    finally:
        cached.unpersist()
    return {"m": m, "u": u, "p": p, "iters": iters}


def math_log(x: float):
    """Literal ln column (helper for :func:`fs_em`'s expression build)."""
    import math

    return F.lit(math.log(x))


def resolve_entities(
    records: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Entity-id assignment from adjudicated match pairs: ``(id,
    entity_id)`` for EVERY record — matched records share their
    component's minimum member id, singletons keep their own id.

    ``pairs`` is an ``(id_a, id_b)`` edge list (blocked_match_
    candidates / sorted_neighborhood_candidates output, optionally
    FS-score-thresholded first). Transitive closure runs through
    dedup_pipeline.connected_components — driver union-find for the
    common ≪1M-edge case, alternating star contraction above it.

    Scale: the join back onto records is keyed on the record id; the
    component table is |matched ids| rows, far smaller than the
    record table, so AQE broadcasts it in the common case.
    """
    from .dedup_pipeline import connected_components

    comp = connected_components(pairs.select("id_a", "id_b"))
    ids = records.select(F.col(id_col).alias("id"))
    return ids.join(comp, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("entity_id")
    )


def golden_records(
    df: DataFrame,
    *,
    entity_col: str = "entity_id",
    id_col: str,
    prefer: Sequence[tuple[str, str]],
    carry: Sequence[str] = (),
    agg_max: Sequence[str] = (),
) -> DataFrame:
    """Survivorship: one golden row per entity — ``(entity_id,
    n_members, survivor_id, <carry cols from the surviving record>,
    max_<c> for each agg_max col)``.

    ``prefer`` is the survivorship policy: ``[(col, 'desc'|'asc'),
    ...]`` ranks the members (e.g. freshest timestamp, highest
    balance); ties always break on ``id_col`` ascending so retries and
    repartitions elect the same survivor. ``carry`` columns are taken
    from the elected record; ``agg_max`` columns take the best value
    across ALL members (the classic mixed policy: identity fields from
    one record, extremal facts from the union).

    Scale shape: one shuffle on the entity key — the election window
    and the member aggregate both run on the same hashpartitioning
    (entity_col stays un-aliased through both, the ranking.py lesson),
    then a per-entity-row join AQE resolves as it likes.
    """
    order = []
    for col, direction in prefer:
        if direction not in ("asc", "desc"):
            raise ValueError(f"prefer direction must be asc/desc: {direction}")
        c = F.col(col)
        order.append(c.desc() if direction == "desc" else c.asc())
    order.append(F.col(id_col).asc())
    w = Window.partitionBy(entity_col).orderBy(*order)
    elected = (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            entity_col,
            F.col(id_col).alias("survivor_id"),
            *carry,
        )
    )
    aggs = [F.count("*").alias("n_members")] + [
        F.max(c).alias(f"max_{c}") for c in agg_max
    ]
    members = df.groupBy(entity_col).agg(*aggs)
    return members.join(elected, entity_col)
