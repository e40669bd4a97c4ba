"""Candidate generation: sparse-cosine top-N as an inverted-index join.

Replaces the reference's scipy sparse matmul + argpartition blocker
(/root/reference/name_matching/sparse_cosine.py:58-179) with the idiomatic
Spark plan:

    Q(group, qid, ngram, wq)  ⋈ngram  M(group, ngram, mid, wm)
      -> partial products -> groupBy(qid, mid).sum  (map-side combine)
      -> per-qid top-k window (rewritten by Catalyst to WindowGroupLimit,
         a bounded per-partition heap -- no full sort)

Scale levers (100 TB thinking):
* ``df_cap_frac`` drops n-grams whose document frequency exceeds a fraction
  of the group's documents from the *join only*.  Hot n-grams ("an", " b")
  dominate join output but contribute tiny idf weight; capping them bounds
  the worst posting list length, which is THE skew knob for this join.
  Cosine contributions lost are bounded by the capped grams' idf mass.
* AQE skew-join splitting handles residual skew in the shuffle.
* Ties broken (cosine DESC, mid ASC) so candidate sets are deterministic
  (the reference's np.argpartition keeps an arbitrary tie subset;
  sparse_cosine.py:113-124 -- divergence resolved at the label level).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .tfidf import GROUP_COL


def by_query(df: DataFrame) -> DataFrame:
    """Hash-partition candidate rows by (group, qid) into exactly
    ``spark.sql.shuffle.partitions`` partitions.

    The pair stages downstream -- verify dot, per-qid top-n window, the
    name joins and the scoring UDF -- cost CPU per pair, not per shuffled
    byte, yet the candidate shuffle is small, so AQE sized by bytes
    coalesces it (and with it the whole pair chain) to one task.  A
    repartition by number (origin REPARTITION_BY_NUM) is never coalesced,
    and every later operator keyed on (group, qid) reuses it.  It takes
    the place of the (group, qid) exchange the chain needs anyway, except
    in an exact join whose master side is broadcast and whose query side
    already arrives clustered by query: there it is one added exchange of
    the summed pairs.  A query's rows are bounded by its candidate set,
    so the qid hash does not skew."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, GROUP_COL, "qid")


def cap_hot_ngrams(weights: DataFrame, idf: DataFrame,
                   df_cap_frac: float | None,
                   min_docs: int = 100) -> DataFrame:
    """Drop n-grams with df > df_cap_frac * n_docs from a weights table.

    ``min_docs`` is an absolute floor: a gram kept by fewer than that many
    documents is never capped, whatever the fraction says.  The cap exists
    to bound posting-list *length* (join output per gram <= df_q * df_m);
    a <=100-doc posting list is harmless at any corpus size, while at small
    block sizes a bare fraction would throw away the whole vocabulary
    (3-doc block: every gram has df/n >= 1/3)."""
    if df_cap_frac is None:
        return weights
    keep = idf.filter(
        F.col("df") <= F.greatest(F.lit(float(min_docs)),
                                  F.col("n_docs") * F.lit(df_cap_frac))
    ).select(GROUP_COL, "ngram")
    return weights.join(F.broadcast(keep), [GROUP_COL, "ngram"], "left_semi")


def cosine_top_n(
    query_w: DataFrame,
    master_w: DataFrame,
    top_n: int = 50,
    idf: DataFrame | None = None,
    df_cap_frac: float | None = None,
    round_decimals: int | None = None,
    master_capped: bool = False,
) -> DataFrame:
    """-> (group, qid, mid, cosine, rank) with rank <= top_n per qid.

    query_w/master_w: (group, id, ngram, weight) long-form matrices.
    ``round_decimals`` rounds the cosine before ranking so the ordering is
    independent of floating-point summation order (cross-engine / re-run
    determinism); ties always break on mid ascending.  ``master_capped``
    marks a master side whose hot n-grams were already capped upstream
    (the prebuilt fitted-master path) so the cap semi-join is not re-run.
    """
    if df_cap_frac is not None and idf is not None:
        query_w = cap_hot_ngrams(query_w, idf, df_cap_frac)
        if not master_capped:
            master_w = cap_hot_ngrams(master_w, idf, df_cap_frac)

    q = query_w.select(
        GROUP_COL, F.col("id").alias("qid"), "ngram",
        F.col("weight").alias("wq"))
    m = master_w.select(
        GROUP_COL, F.col("id").alias("mid"), "ngram",
        F.col("weight").alias("wm"))
    # by_query AFTER the (group, qid, mid) sum, so its map-side partial
    # aggregation is kept; the window then reuses the query partitioning
    pairs = by_query(
        q.join(m, [GROUP_COL, "ngram"])
        .groupBy(GROUP_COL, "qid", "mid")
        .agg(F.sum(F.col("wq") * F.col("wm")).alias("cosine")))
    if round_decimals is not None:
        pairs = pairs.withColumn(
            "cosine", F.round(F.col("cosine"), round_decimals))
    w = Window.partitionBy(GROUP_COL, "qid").orderBy(
        F.col("cosine").desc(), F.col("mid").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
    )


def _vocab_gids(idf: DataFrame) -> DataFrame:
    """-> (group, ngram, df, n_docs, __gid): dense integer gram ids,
    assigned in NGRAM-ASCENDING order per group so that every ordering the
    blocker depends on -- prefix selection by (df asc, ngram asc), map
    entry order, hence the verify dot's summation order -- is preserved
    bit-for-bit when grams are replaced by their ids.  The vocabulary is
    small (<= ~alphabet^3 per group), so the window is trivial."""
    vw = Window.partitionBy(GROUP_COL).orderBy("ngram")
    return idf.select(GROUP_COL, "ngram", "df", "n_docs").withColumn(
        "__gid", F.row_number().over(vw))


def _doc_table(w: DataFrame, idf: DataFrame, prefix_size: int,
               df_cap_frac: float | None, id_alias: str,
               map_alias: str) -> DataFrame:
    """One-pass per-document table for the prefix blocker:
    -> (group, <id_alias>, __pref array<int>, <map_alias> map<int,weight>).

    ONE hash aggregation keyed by (group, id): the df-cap filter, the df
    lookup and the gram -> ``_vocab_gids`` id mapping ride the same
    broadcast join, and the prefix selection is an array_sort + slice over
    each document's ~tens of entries.  Prefix grams are the
    ``prefix_size`` rarest by (df asc, ngram asc); map entries are emitted
    in that same deterministic order, which makes the verify dot's
    summation order run-stable.  Gram ids are dense ints end-to-end
    (prefix arrays, posting join keys, map keys): the verify dot then zips
    int-keyed maps -- measured ~15% off the whole blocking stage at 20k
    docs -- with output identical to string keys (order-preserving ids,
    see _vocab_gids).  Both sides of one blocking call must be built from
    the same idf table, so their ids agree."""
    keep = _vocab_gids(idf)
    if df_cap_frac is not None:
        keep = keep.filter(
            F.col("df") <= F.greatest(F.lit(100.0),
                                      F.col("n_docs") * F.lit(df_cap_frac)))
    keep = keep.select(GROUP_COL, "ngram", "df", F.col("__gid").alias("__k"))
    ents = (
        w.join(F.broadcast(keep), [GROUP_COL, "ngram"])
        .groupBy(GROUP_COL, F.col("id").alias(id_alias))
        .agg(F.array_sort(F.collect_list(
            F.struct("df", "__k", "weight"))).alias("__ents"))
    )
    return ents.select(
        GROUP_COL, id_alias,
        F.expr(f"transform(slice(__ents, 1, {int(prefix_size)}), "
               "e -> e.__k)").alias("__pref"),
        F.expr("map_from_entries(transform(__ents, "
               "e -> struct(e.__k, e.weight)))").alias(map_alias))


def _grouped_postings(doc: DataFrame, id_alias: str,
                      posting_cap: int | None) -> DataFrame:
    """A ``_doc_table`` -> (group, ngram, __<id_alias>s array<id>): one
    posting list per prefix gram id, sorted by id and truncated to
    ``posting_cap`` ids."""
    ids = F.array_sort(F.collect_list(id_alias))
    if posting_cap is not None:
        ids = F.slice(ids, 1, int(posting_cap))
    return (doc.select(GROUP_COL, id_alias,
                       F.explode("__pref").alias("ngram"))
            .groupBy(GROUP_COL, "ngram")
            .agg(ids.alias(f"__{id_alias}s")))


def master_doc_table(master_w: DataFrame, idf: DataFrame, prefix_size: int,
                     df_cap_frac: float | None) -> DataFrame:
    """-> (group, mid, __pref, mm): the master side's prefix-blocker doc
    table.  Module-level so a long-lived caller (``fit_master``: streaming,
    repeated query sets against one master) builds it ONCE and passes it
    as ``prefix_filtered_top_n(master_map=)``."""
    return _doc_table(master_w, idf, prefix_size, df_cap_frac, "mid", "mm")


def master_postings(m_doc: DataFrame,
                    posting_cap: int | None = 2000) -> DataFrame:
    """-> (group, ngram, __mids): the candidate-join postings of a
    ``master_doc_table``, passed as ``prefix_filtered_top_n(master_pref=)``."""
    return _grouped_postings(m_doc, "mid", posting_cap)


def prefix_filtered_top_n(
    query_w: DataFrame,
    master_w: DataFrame,
    idf: DataFrame,
    top_n: int = 50,
    prefix_size: int = 6,
    df_cap_frac: float | None = 0.2,
    posting_cap: int | None = 2000,
    round_decimals: int | None = None,
    master_pref: DataFrame | None = None,
    master_map: DataFrame | None = None,
) -> DataFrame:
    """Scale path for the cosine top-N blocker: prefix-filtered candidate
    generation (AllPairs/PPJoin-style) + exact cosine verification.

    The full inverted-index join is Sum_g df_q(g)*df_m(g) -- quadratic in
    hot n-grams and unusable beyond ~10^4 docs per block.  Instead:

    1. each document contributes only its ``prefix_size`` *rarest* n-grams
       (by global df) to the candidate join, so join output per gram is
       bounded by the product of restricted posting lengths -- near-linear
       because grams are selected for rarity;
    2. candidate pairs then get their EXACT cosine from a join of both full
       weight vectors (cost = |candidates| x avg shared grams);
    3. per-query top-k window as in the exact operator.

    A true near-match shares most n-grams including rare ones, so recall
    for high-cosine pairs is high (measured >= 99% top-1 agreement vs the
    exact join on the twin corpus at prefix_size=6); recall decays
    gracefully for low-cosine pairs, which the top-N would rank last anyway.

    ``posting_cap`` additionally truncates each n-gram's *restricted*
    posting list to its first N ids (deterministic), hard-bounding the
    join output at vocab * posting_cap^2 even when mid-frequency grams end
    up in many documents' prefixes.  Distinctive names keep genuinely rare
    grams (postings far below the cap), so twin recall is unaffected;
    names made entirely of corpus-common tokens lose candidates first --
    the same names every blocker struggles with.

    ``master_pref``/``master_map`` accept the prebuilt master-side tables
    from ``master_postings``/``master_doc_table``, built with this call's
    ``idf``, ``prefix_size``, ``df_cap_frac`` and ``posting_cap``
    (``fit_master`` persists them); when given, the master side of this
    call is pure reuse -- no master aggregation re-runs (the streaming
    per-micro-batch path).  Without them both are built here from
    ``master_w``, the same way.

    Plan shape (round 6): each side is collapsed into ONE per-document
    aggregation (``_doc_table``) that yields both the prefix grams and
    the weight map, so the side's weight table is consumed once; the
    candidate join runs over vocabulary-keyed posting ARRAYS
    (``_grouped_postings``) and the maps for the verify dot come from the
    same per-doc tables.  Selection order, cap semantics and cosine
    values are locked by tests/test_spark_blocking.py and the
    prefix_cosine_topk oracle.
    """
    # lazy localCheckpoints: each doc table has TWO consumers (its posting
    # explode and the verify map join); exchange reuse does not span those
    # subtrees reliably under AQE, so without the checkpoint the whole
    # weights lineage runs twice per side.  Lazy = no job until the plan
    # executes; blocks are GC-released with the plan.
    q_doc = _doc_table(query_w, idf, prefix_size, df_cap_frac,
                       "qid", "qm").localCheckpoint(eager=False)
    if master_pref is None:
        master_map = master_doc_table(master_w, idf, prefix_size,
                                      df_cap_frac).localCheckpoint(eager=False)
        master_pref = master_postings(master_map, posting_cap)
    m_map = master_map.select(GROUP_COL, "mid", "mm")
    q_post = _grouped_postings(q_doc, "qid", posting_cap)
    # candidate set per qid = distinct union of the m-posting arrays of its
    # (cap-surviving) prefix grams.  Deduplicate INSIDE a per-qid array
    # (flatten + array_distinct) instead of a pair-level distinct: the same
    # set, but the exchange moves array-packed ids once and the 5-10x
    # duplicated (qid, mid) long rows never exist as shuffle rows.
    q_caps = q_post.select(GROUP_COL, "ngram",
                           F.explode("__qids").alias("qid"))
    # by_query BEFORE the per-qid aggregate: the join output is keyed by
    # (group, ngram), so the repartition is a real exchange that replaces
    # the aggregate's own.  On the aggregate's output it would equal the
    # child partitioning, be dropped, and AQE would coalesce again
    cand = (by_query(q_caps.join(master_pref, [GROUP_COL, "ngram"]))
            .groupBy(GROUP_COL, "qid")
            .agg(F.array_distinct(F.flatten(F.collect_list("__mids")))
                 .alias("__cands"))
            .select(GROUP_COL, "qid", F.explode("__cands").alias("mid")))

    # exact cosine for candidates WITHOUT re-exploding grams: each side's
    # weight vector is one map column; the dot product is a JVM-side
    # map_zip_with fold, so verification is |candidates| rows end-to-end
    dot = F.expr(
        "aggregate(map_values(map_zip_with(qm, mm, "
        "(k, v1, v2) -> coalesce(v1, 0d) * coalesce(v2, 0d))), "
        "0d, (acc, x) -> acc + x)")
    # NO cosine > 0 filter here: it is vacuous by construction -- every
    # candidate pair shares at least one prefix gram, that gram survives
    # the SAME df-cap on both sides (q prefix and m posting both come from
    # the cap-filtered vocabulary, and both maps hold the full cap-filtered
    # vectors), and tf*idf weights are strictly positive (smooth idf >= 1),
    # so the raw dot is always > 0.  Materially: Catalyst pushes such a
    # filter into the map-join as a post-join condition, which evaluates
    # the interpreted higher-order dot TWICE per candidate row (join
    # condition + projection) -- measured as a ~2x on the verify stage,
    # the largest stage of the prefix path.
    pairs = (
        cand.join(q_doc.select(GROUP_COL, "qid", "qm"), [GROUP_COL, "qid"])
        .join(m_map, [GROUP_COL, "mid"])
        .select(GROUP_COL, "qid", "mid", dot.alias("cosine"))
    )
    if round_decimals is not None:
        pairs = pairs.withColumn(
            "cosine", F.round(F.col("cosine"), round_decimals))
    w = Window.partitionBy(GROUP_COL, "qid").orderBy(
        F.col("cosine").desc(), F.col("mid").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
    )


def salted_equi_join(
    big: DataFrame,
    small: DataFrame,
    keys: list[str],
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Explicit salted hash-partitioned equi-join for skewed block keys.

    The big side gets a deterministic salt from its whole row hash; the
    small side is replicated ``salt`` ways, so one hot key spreads over
    ``salt`` shuffle partitions.  Use when a blocking key is pathologically
    hot and AQE's skew splitting is not available (e.g. bucketed writes).
    """
    big_s = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]),
                         F.lit(salt)).cast("int"))
    small_s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    return big_s.join(small_s, keys + ["__salt"], how).drop("__salt")
