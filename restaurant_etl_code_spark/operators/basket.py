"""Market-basket co-occurrence mining: frequent item pairs with support
and lift.

The reference matches products one-at-a-time (SURVEY §2 J5/J6); a catalog
team also asks the corpus-level question "which products co-occur in
orders" — the first round of a-priori frequent-itemset mining, the part
that matters at 100 TB because it is where the quadratic blow-up lives.

Scale shape (r17 rewrite — array enumeration instead of self-joins):
- **One basket shuffle**: baskets are reduced to sorted distinct item
  arrays with a single hash aggregation on the basket key (``collect_set``
  partial-aggregates map-side, so duplicate line-items collapse before the
  exchange). The former shape re-derived the (basket, item) projection per
  consumer — ``distinct`` + a size-count shuffle + a basket-key self-join
  per enumeration level — and the DataFrame DAG duplicated that subtree
  combinatorially (the basket_triple_rules plan carried 652 Exchange
  nodes; the array form carries ~20).
- **Basket-size valve**: a basket of size k emits k(k−1)/2 pairs; a few
  pathological mega-baskets (a crawler, a bot account) can dominate the
  whole job quadratically. ``max_basket_size`` drops oversized baskets
  deterministically (an array-length filter on the aggregated form —
  documented, oracle-expressible), the same bounded-blow-up valve as
  ngram-jaccard's ``max_df`` cap.
- **Map-side enumeration, bounded by the valve**: pair/triple candidates
  are generated per basket with array higher-order functions (``transform``
  over the sorted array, so ``item_a < item_b < item_c`` holds by
  construction) — row-local JVM codegen, never a join, and never more
  than C(max_basket_size, 2) (or 3) rows per basket.
- **A-priori prune before the counting shuffle**: items below
  ``min_support`` cannot appear in a frequent pair, so candidate pairs
  carrying one are dropped by broadcast semi-joins against the
  counter-sized frequent-item table BEFORE the pair-count exchange (and
  candidate triples against the frequent-PAIR table likewise). This is
  the classic candidate-reduction step — on heavy-tailed catalogs it
  removes most of the long tail before any shuffle carries it.
- Pair/triple counts reduce map-side into counters; every later join
  (support attach, rule confidence) is counter-to-counter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["cooccurrence_pairs", "cooccurrence_triples", "association_rules", "triple_association_rules"]


def _basket_arrays(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket_size: int | None,
) -> DataFrame:
    """Baskets as sorted distinct item arrays — the ONE basket-key shuffle
    every miner shares: ``collect_set`` dedupes (presence, not
    multiplicity) with map-side partial aggregation, ``sort_array`` fixes
    the enumeration order so generated tuples are ascending by
    construction. The size valve counts exactly what the row form counted
    (distinct (basket, item) rows — a NULL item is one row there, so it
    contributes 1 to the basket size even though ``collect_set`` drops
    it)."""
    rows = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    )
    arr = (
        rows.groupBy("__b")
        .agg(
            F.sort_array(F.collect_set("__i")).alias("__items"),
            F.max(F.col("__i").isNull()).alias("__has_null"),
        )
    )
    if max_basket_size is not None:
        arr = arr.filter(
            F.size("__items") + F.col("__has_null").cast("int")
            <= max_basket_size
        )
    return arr.select("__b", "__items")


# Ordered k-subsets of the sorted distinct array, generated row-locally
# (slice() is 1-based; x at 0-based i pairs with the elements after it).
_PAIRS_EXPR = (
    "flatten(transform(__items, (x, i) -> "
    "transform(slice(__items, i + 2, size(__items) - i - 1), "
    "y -> struct(x AS item_a, y AS item_b))))"
)
_TRIPLES_EXPR = (
    "flatten(transform(__items, (x, i) -> "
    "flatten(transform(slice(__items, i + 2, size(__items) - i - 1), (y, j) -> "
    "transform(slice(__items, i + j + 3, size(__items) - i - j - 2), "
    "z -> struct(x AS item_a, y AS item_b, z AS item_c))))))"
)


def _item_counts(arr: DataFrame) -> DataFrame:
    """Per-item basket counts (support) over the valved baskets — a
    counter-sized aggregate (one small shuffle of exploded keys)."""
    return (
        arr.select(F.explode("__items").alias("__i"))
        .groupBy("__i")
        .agg(F.count(F.lit(1)).alias("__n"))
    )


def cooccurrence_pairs(
    df: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Frequent item pairs: (item_a, item_b, n_pair, support_a, support_b,
    lift), item_a < item_b, n_pair ≥ min_support.

    ``lift = n_pair · n_baskets / (support_a · support_b)`` > 1 means the
    pair co-occurs more than independence predicts.
    """
    arr = _basket_arrays(df, basket_col, item_col, max_basket_size)

    # basket total as a one-row frame cross-joined in at the end — a
    # driver-side .count() here would EXECUTE the whole upstream plan a
    # second time just to embed one literal (measured ~2× the job)
    n_baskets = arr.agg(F.count(F.lit(1)).cast("double").alias("__nb"))

    frequent = _item_counts(arr).filter(F.col("__n") >= min_support)

    candidates = arr.select(F.explode(F.expr(_PAIRS_EXPR)).alias("__p")).select(
        "__p.item_a", "__p.item_b"
    )
    # a-priori prune: drop candidates carrying an infrequent item BEFORE
    # the counting shuffle (broadcast semi against the counter table)
    pruned = candidates.join(
        frequent.select(F.col("__i").alias("item_a")), "item_a", "left_semi"
    ).join(
        frequent.select(F.col("__i").alias("item_b")), "item_b", "left_semi"
    )
    pairs = (
        pruned.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_support)
    )
    fa = frequent.select(F.col("__i").alias("item_a"), F.col("__n").alias("support_a"))
    fb = frequent.select(F.col("__i").alias("item_b"), F.col("__n").alias("support_b"))
    return (
        pairs.join(fa, "item_a")
        .join(fb, "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "n_pair",
            "support_a",
            "support_b",
            F.round(
                F.col("n_pair") * F.col("__nb")
                / (F.col("support_a") * F.col("support_b")),
                6,
            ).alias("lift"),
        )
    )


def cooccurrence_triples(
    df: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Frequent item TRIPLES — the level-3 a-priori step: (item_a <
    item_b < item_c, n_triple ≥ min_support).

    The Apriori property (every sub-pair of a frequent triple is itself
    frequent at ≥ the triple's support) means pruning can never change
    the RESULT — it exists to bound the enumeration. Shape: candidate
    triples are generated row-locally from the sorted basket array
    (bounded by the size valve), then all three sub-pairs semi-join the
    frequent-PAIR counter table before the counting shuffle. All pruning
    tables are aggregate outputs (counter-sized vs the corpus).

    The plain SQL equivalent is the unpruned 3-way self-join with
    HAVING — identical rows, quadratically more join work.
    """
    triples, _pairs = _triples_with_pair_counts(
        df, basket_col, item_col, min_support, max_basket_size
    )
    return triples


def _triples_with_pair_counts(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int,
    max_basket_size: int | None,
) -> tuple[DataFrame, DataFrame]:
    """The level-3 miner, also exposing its INTERNAL frequent-pair counter
    table (item_a < item_b, n_pair ≥ min_support) so rule derivation can
    reuse it — re-deriving pair counts for (A,B)→C confidence was a second
    data-sized basket pass on top of the miner's own (round-4 advisory)."""
    arr = _basket_arrays(df, basket_col, item_col, max_basket_size)
    frequent = _item_counts(arr).filter(F.col("__n") >= min_support).select("__i")

    pair_cand = arr.select(F.explode(F.expr(_PAIRS_EXPR)).alias("__p")).select(
        "__p.item_a", "__p.item_b"
    )
    pair_cand = pair_cand.join(
        frequent.select(F.col("__i").alias("item_a")), "item_a", "left_semi"
    ).join(
        frequent.select(F.col("__i").alias("item_b")), "item_b", "left_semi"
    )
    pair_counts = (
        pair_cand.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_support)
    )
    pf = pair_counts.select("item_a", "item_b")

    tri_cand = arr.select(F.explode(F.expr(_TRIPLES_EXPR)).alias("__t")).select(
        "__t.item_a", "__t.item_b", "__t.item_c"
    )
    # all three sub-pairs must be frequent (Apriori) — prune the candidate
    # stream against the counter-sized pair table before the shuffle
    tri_cand = (
        tri_cand.join(pf, ["item_a", "item_b"], "left_semi")
        .join(
            pf.select(
                F.col("item_a").alias("item_b"), F.col("item_b").alias("item_c")
            ),
            ["item_b", "item_c"],
            "left_semi",
        )
        .join(
            pf.select("item_a", F.col("item_b").alias("item_c")),
            ["item_a", "item_c"],
            "left_semi",
        )
    )
    triples = (
        tri_cand.groupBy("item_a", "item_b", "item_c")
        .agg(F.count(F.lit(1)).alias("n_triple"))
        .filter(F.col("n_triple") >= min_support)
    )
    return triples, pair_counts


def association_rules(
    df: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    min_confidence: float = 0.0,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Directed association rules from the frequent pairs: for each
    ordered rule A→B, ``confidence = n_pair / support(A)`` and the shared
    ``lift``. Pure post-processing of ``cooccurrence_pairs`` — each
    undirected pair emits both directions from the counter-sized pair
    table (no new pass over the baskets)."""
    pairs = cooccurrence_pairs(
        df,
        basket_col=basket_col,
        item_col=item_col,
        min_support=min_support,
        max_basket_size=max_basket_size,
    )
    fwd = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "n_pair",
        F.col("support_a").alias("support_antecedent"),
        "lift",
    )
    rev = pairs.select(
        F.col("item_b").alias("antecedent"),
        F.col("item_a").alias("consequent"),
        "n_pair",
        F.col("support_b").alias("support_antecedent"),
        "lift",
    )
    rules = fwd.unionByName(rev).withColumn(
        "confidence",
        F.round(F.col("n_pair") / F.col("support_antecedent"), 6),
    )
    return rules.filter(F.col("confidence") >= min_confidence)


def triple_association_rules(
    df: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    min_confidence: float = 0.0,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Two-antecedent rules (A,B)→C from the frequent triples:
    ``confidence = n_triple / n_pair(A,B)``. Each triple emits its three
    rules by joining the triple counters against the pair counters the
    triple miner ALREADY computed for its a-priori prune (shared via
    ``_triples_with_pair_counts``) — counter-sized tables only, genuinely
    no new basket pass beyond the miner's own. Sub-pairs of a frequent
    triple are themselves frequent (Apriori property), so the
    min_support-filtered pair table covers every rule's denominator.
    """
    triples, pair_counts = _triples_with_pair_counts(
        df, basket_col, item_col, min_support, max_basket_size
    )
    pair_counts = pair_counts.select(
        F.col("item_a").alias("pa"), F.col("item_b").alias("pb"), "n_pair"
    )
    rules = None
    for ant1, ant2, cons in (
        ("item_a", "item_b", "item_c"),
        ("item_a", "item_c", "item_b"),
        ("item_b", "item_c", "item_a"),
    ):
        r = triples.select(
            F.col(ant1).alias("antecedent_1"),
            F.col(ant2).alias("antecedent_2"),
            F.col(cons).alias("consequent"),
            "n_triple",
        )
        rules = r if rules is None else rules.unionByName(r)
    out = rules.join(
        pair_counts.select(
            F.col("pa").alias("antecedent_1"),
            F.col("pb").alias("antecedent_2"),
            "n_pair",
        ),
        ["antecedent_1", "antecedent_2"],
    ).withColumn(
        "confidence", F.round(F.col("n_triple") / F.col("n_pair"), 6)
    )
    return out.filter(F.col("confidence") >= min_confidence)
