"""Bradley-Terry preference ranking via the MM algorithm.

The reference ranks nothing — its query model is membership
(store/leveldb.go:147-205).  A training-data pipeline that collects
pairwise preferences (RLHF comparisons, A/B outcomes, annotator
rankings — the rows `operators/curation.py preference_pairs` emits)
wants a STRENGTH score per item: Bradley-Terry (Biometrika 1952)
models P(i beats j) = p_i / (p_i + p_j), and Hunter (Annals of
Statistics 2004) gives the minorize-maximize update

    p_i' = W_i / sum_j n_ij / (p_i + p_j)

where W_i is i's total (smoothed) wins and n_ij the comparison count
against j.  Each round renormalizes to sum 1 (BT is scale-invariant).

Scale shape — the same loop contract as ``graph.pagerank``: the item
universe can be millions (documents ranked by sampled duels), so the
iteration is pure DataFrames: per round ONE join of the directed
pair-count table against the rating vector on each side plus one
aggregation per item (shuffles bounded by |pairs| and |items|), no
driver-side state.  Pair counts are the sufficient statistics — the
raw duel log is scanned exactly once regardless of iteration count.

Float determinism: ``deterministic=True`` (the oracle path) folds each
item's denominator in sorted-opponent order and the normalizer in
sorted-item order via ``aggregate(array_sort(collect_list(...)))``, so
the double trajectory is bit-identical to the oracle's
``SUM(term ORDER BY ...)``; the rating is rounded to ``dp`` once per
round at the normalize step (the logreg/FS-EM discipline — cross-engine
drift absorbed per step, and +,*,/ only so there is none to absorb).
``deterministic=False`` swaps both folds for plain partial-aggregating
``F.sum`` — the 100 TB path (an item compared against the whole corpus
is a hub row you can't afford to widen into one array).

Add-``smooth`` (default 0.5) virtual wins per direction per observed
pair keep every rating strictly positive (an item that never wins
would otherwise collapse to 0 and poison opponents' denominators) —
the standard regularization, applied identically in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def bt_pair_counts(
    duels: DataFrame, winner_col: str = "winner", loser_col: str = "loser"
) -> DataFrame:
    """Unordered-pair sufficient statistics of a duel log.

    Returns (item_a, item_b, n_duels, wins_a) with item_a < item_b —
    one shuffle over the duels, one row per distinct pair.
    """
    w, l = F.col(winner_col), F.col(loser_col)
    return (
        duels.select(
            F.least(w, l).alias("item_a"),
            F.greatest(w, l).alias("item_b"),
            F.when(w < l, 1).otherwise(0).alias("_wa"),
        )
        .groupBy("item_a", "item_b")
        .agg(
            F.count("*").cast("bigint").alias("n_duels"),
            F.sum("_wa").cast("bigint").alias("wins_a"),
        )
    )


def _sorted_fold(df: DataFrame, keys: list[str], order_col: str, term, out: str):
    """groupBy(keys).sum(term) folding in sorted ``order_col`` order."""
    s = df.select(
        *keys, F.struct(F.col(order_col).alias("_o"), term.alias("_c")).alias("_s")
    )
    return s.groupBy(*keys).agg(
        F.aggregate(
            F.array_sort(F.collect_list("_s")),
            F.lit(0.0),
            lambda acc, x: acc + x["_c"],
        ).alias(out)
    )


def bt_ratings(
    pair_counts: DataFrame,
    n_iter: int = 4,
    smooth: float = 0.5,
    dp: int = 9,
    deterministic: bool = True,
) -> DataFrame:
    """MM iteration over :func:`bt_pair_counts` output.

    Returns (item, rating) with sum(rating) = 1 (up to the per-round
    round(dp)).  See module docstring for the update and the
    determinism contract.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    # directed view: one row per (item, opponent) with the smoothed
    # win/total counts seen from `item`'s side.  Loop invariant —
    # checkpoint once so K plan references don't recompute upstream.
    a_side = pair_counts.select(
        F.col("item_a").alias("item"),
        F.col("item_b").alias("other"),
        (F.col("n_duels") + 2.0 * smooth).alias("n"),
        (F.col("wins_a") + smooth).alias("w"),
    )
    b_side = pair_counts.select(
        F.col("item_b").alias("item"),
        F.col("item_a").alias("other"),
        (F.col("n_duels") + 2.0 * smooth).alias("n"),
        (F.col("n_duels") - F.col("wins_a") + smooth).alias("w"),
    )
    directed = a_side.unionByName(b_side).localCheckpoint(eager=True)
    if deterministic:
        wins = _sorted_fold(directed, ["item"], "other", F.col("w"), "wins")
    else:
        wins = directed.groupBy("item").agg(F.sum("w").alias("wins"))
    wins = wins.localCheckpoint(eager=True)
    n_items = wins.count()
    if n_items == 0:
        raise ValueError("empty duel log")

    r = wins.select("item", F.round(F.lit(1.0 / n_items), dp).alias("p"))
    for _ in range(n_iter):
        j = (
            directed.join(r.select(F.col("item"), F.col("p").alias("_pa")), "item")
            .join(
                r.select(F.col("item").alias("other"), F.col("p").alias("_pb")),
                "other",
            )
        )
        term = F.col("n") / (F.col("_pa") + F.col("_pb"))
        if deterministic:
            den = _sorted_fold(j, ["item"], "other", term, "den")
        else:
            den = j.select("item", term.alias("_t")).groupBy("item").agg(
                F.sum("_t").alias("den")
            )
        q = wins.join(den, "item").select(
            "item", (F.col("wins") / F.col("den")).alias("q")
        )
        if deterministic:
            tot = _sorted_fold(q, [], "item", F.col("q"), "tot")
        else:
            tot = q.agg(F.sum("q").alias("tot"))
        r = q.crossJoin(F.broadcast(tot)).select(
            "item", F.round(F.col("q") / F.col("tot"), dp).alias("p")
        ).localCheckpoint(eager=True)
    return r.select("item", F.col("p").alias("rating"))


def bt_oracle_sql(
    duels_cte: str,
    n_iter: int = 4,
    smooth: float = 0.5,
    dp: int = 9,
    winner_col: str = "winner",
    loser_col: str = "loser",
) -> str:
    """The identical MM recurrence unrolled in ANSI SQL (DuckDB), same
    fold orders (``SUM(... ORDER BY ...)``) and the same single
    round(dp) per round.  Ends with CTE ``fin(item, rating)``; append a
    SELECT.  Every CTE is MATERIALIZED: each round reads the previous
    round's ratings twice, so an inlined chain would re-evaluate the
    duel scan ~4**n_iter times (DuckDB inlines CTEs by default)."""
    parts = [
        f"duels AS MATERIALIZED ({duels_cte})",
        f"""pc AS MATERIALIZED (
          SELECT LEAST({winner_col}, {loser_col}) AS item_a,
                 GREATEST({winner_col}, {loser_col}) AS item_b,
                 COUNT(*) AS n_duels,
                 SUM(CASE WHEN {winner_col} < {loser_col} THEN 1 ELSE 0 END) AS wins_a
          FROM duels GROUP BY 1, 2)""",
        f"""dir AS MATERIALIZED (
          SELECT item_a AS item, item_b AS other,
                 n_duels + 2.0 * {smooth} AS n, wins_a + {smooth} AS w FROM pc
          UNION ALL
          SELECT item_b, item_a,
                 n_duels + 2.0 * {smooth}, n_duels - wins_a + {smooth} FROM pc)""",
        """wins AS MATERIALIZED (
          SELECT item, SUM(w ORDER BY other) AS wins FROM dir GROUP BY item)""",
        f"""r0 AS MATERIALIZED (SELECT item,
             round(1.0 / (SELECT COUNT(*) FROM wins), {dp}) AS p FROM wins)""",
    ]
    for i in range(n_iter):
        parts.append(
            f"""d{i} AS MATERIALIZED (
              SELECT dir.item,
                     SUM(dir.n / (ra.p + rb.p) ORDER BY dir.other) AS den
              FROM dir
              JOIN r{i} ra ON ra.item = dir.item
              JOIN r{i} rb ON rb.item = dir.other
              GROUP BY dir.item)"""
        )
        parts.append(
            f"""q{i} AS MATERIALIZED (
              SELECT wins.item, wins.wins / d{i}.den AS q
              FROM wins JOIN d{i} ON d{i}.item = wins.item)"""
        )
        parts.append(
            f"""r{i + 1} AS MATERIALIZED (
              SELECT item,
                     round(q / (SELECT SUM(q ORDER BY item) FROM q{i}), {dp}) AS p
              FROM q{i})"""
        )
    parts.append(f"fin AS MATERIALIZED (SELECT item, p AS rating FROM r{n_iter})")
    return "WITH " + ",\n".join(parts)
