"""Deduplication family for training-data pipelines (SURVEY.md build-plan
extension): MinHash+LSH, SimHash, n-gram Jaccard. Exact dedup needs no
operator: ``queries.py::dedup_exact_stats`` groups by
``functions/text.py::doc_fingerprint``.

All hashing is md5-derived (``conv(substr(md5(x),1,15),16,10)``) so results
are portable bit-for-bit to any engine with md5 — the correctness oracles
recompute identical signatures in SQL. All heavy paths are pure Catalyst
expressions over exploded word/shingle sets: distributed, shuffle-on-key,
no Python in the loop.

Scale notes (100 TB corpus):
- MinHash: signature computation is embarrassingly parallel (per-row
  array_min over a transform — no shuffle); LSH banding turns the O(n²)
  pair problem into groupBy(band_hash) — pairs only materialize inside a
  bucket. Band count/row trade recall vs cost as usual.
- n-gram Jaccard is the verify step run only on LSH candidates at scale;
  the all-pairs variant here is for small-table correctness checking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def md5int(col, salt: str | None = None):
    """Portable 60-bit integer hash (== DuckDB ('0x'||substr(md5(x),1,15))::BIGINT)."""
    c = F.concat(F.lit(f"{salt}:"), col) if salt is not None else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def words_expr(text_col):
    """Distinct whitespace tokens of a trimmed text column."""
    return F.array_distinct(F.split(F.trim(text_col), r"\s+"))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       key: str = "doc_id", k: int = 8) -> DataFrame:
    """k-permutation MinHash over distinct word shingles.

    mh_j = min over words of md5int(j || ':' || word). Per-row only —
    no shuffle; at 100 TB this is a map-only stage.
    """
    ws = words_expr(F.col(text_col))

    def mh(j: int):
        # single-arg lambda: F.transform treats a 2-arg lambda as
        # (element, index) — a default-arg closure would receive the index
        salt = str(j)
        return F.array_min(F.transform(ws, lambda w: md5int(w, salt=salt)))

    return df.select(F.col(key), *[mh(j).alias(f"mh_{j}") for j in range(k)])


def minhash_lsh_buckets(df: DataFrame, text_col: str = "text",
                        key: str = "doc_id", k: int = 8,
                        bands: int = 4) -> DataFrame:
    """LSH banding: hash each band of the signature; docs sharing a
    (band_id, band_hash) are near-dup candidates.

    One scan: the per-band hashes are an array-of-structs exploded
    ×bands. The previous per-band-select UNION re-scanned the corpus
    once per band (column pruning kept each branch to its own two
    signature columns, but the text still parsed ``bands`` times);
    explode reads and tokenizes every document exactly once (r6;
    guide §2.3 — don't recompute what one pass can carry)."""
    assert k % bands == 0
    rows_per_band = k // bands
    sig = minhash_signatures(df, text_col, key, k)
    band_arr = F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(F.concat_ws(
                "_", *[F.col(f"mh_{b * rows_per_band + r}").cast("string")
                       for r in range(rows_per_band)]
            )).alias("band_hash"),
        )
        for b in range(bands)
    ])
    return (
        sig.select(F.col(key), F.explode(band_arr).alias("_bv"))
        .select(F.col(key), F.col("_bv.band_id").alias("band_id"),
                F.col("_bv.band_hash").alias("band_hash"))
    )


def lsh_candidate_pairs(df: DataFrame, text_col: str = "text",
                        key: str = "doc_id", k: int = 8,
                        bands: int = 4) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing any band bucket.

    The groupBy(band) keeps the join local to buckets — the scale path.
    """
    bk = minhash_lsh_buckets(df, text_col, key, k, bands)
    a = bk.alias("a")
    b = bk.alias("b")
    pairs = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col(f"a.{key}") < F.col(f"b.{key}"))
        .select(
            F.col(f"a.{key}").alias("id_a"), F.col(f"b.{key}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def neardup_clusters(
    nodes: DataFrame, edges: DataFrame, key: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Near-duplicate cluster assignment: connected components over the
    verified-pair graph, each doc labeled with the MIN doc id of its
    component — the step after pair verification in a dedup pipeline
    (keep one representative per cluster).

    Spark-first iterative min-label propagation: per round, every node
    takes min(own label, neighbors' labels) — two shuffled joins + an
    aggregate per round, converging in O(graph diameter) rounds (near-dup
    graphs are dense cliques ⇒ few rounds). ``localCheckpoint`` cuts the
    growing lineage each round; the convergence probe is a 1-row action.
    At 10^10 nodes the same loop runs with the large-star/small-star
    optimization; semantics are identical.

    ``edges``: (id_a, id_b) undirected pairs. Returns (key, cluster_id)
    for EVERY node (singletons cluster to themselves).
    """
    e = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    labels = (
        nodes.select(F.col(key).alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        cand = (
            e.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(cand, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # silent non-convergence would split one logical cluster into
        # several ids (and diverge from the fixpoint oracle) — refuse
        raise RuntimeError(
            f"neardup_clusters did not converge in {max_iters} rounds "
            f"({changed} labels still changing); the component diameter "
            "exceeds max_iters — raise it or pre-contract the graph"
        )
    return labels.select(F.col("id").alias(key), F.col("label").alias("cluster_id"))


def neardup_clusters_star(
    nodes: DataFrame, edges: DataFrame, key: str = "doc_id",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the 10^10-node upgrade of ``neardup_clusters``: converges in
    O(log^2 n) rounds regardless of component DIAMETER, where min-label
    propagation needs O(diameter) rounds (a pathological near-dup chain
    — A≈B≈C≈… with no direct A≈C edge — defeats propagation but not
    this). Semantics identical: every node labeled with the MIN id of
    its component.

    Edges are kept canonical (u > v, string order — same total order the
    propagation variant uses). Per round: large-star rewires each node's
    LARGER neighbors to the min of its neighborhood; small-star rewires
    the smaller-or-equal ones. Both are one groupBy + one join over the
    edge set. Convergence is detected by an (edge-count, xxhash64
    checksum) fixpoint — one 1-row action per round — and certified
    afterwards by a star-form check (no node appears on both sides of
    the edge set), so a checksum collision can never return a wrong
    labeling.
    """
    E = (
        edges.select(
            F.greatest("id_a", "id_b").alias("u"),
            F.least("id_a", "id_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def _sig(df: DataFrame) -> tuple:
        # bit_xor, not sum: order-independent AND overflow-free under
        # ANSI mode (sum of xxhash64 longs overflows)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        return (int(row["n"]), int(row["h"] or 0))

    sig = _sig(E)
    converged = False
    for _ in range(max_iters):
        # large-star: from EVERY endpoint's perspective (symmetrized),
        # connect strictly-larger neighbors to min(N(u) ∪ {u})
        sym = E.unionByName(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("mn")
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: group by the BIGGER endpoint; connect its smaller
        # neighbors and itself to the neighborhood min
        mins2 = large.groupBy("u").agg(F.min("v").alias("mn"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("node"), F.col("mn"))
            .unionByName(
                mins2.select(F.col("u").alias("node"), F.col("mn"))
            )
            .filter(F.col("node") != F.col("mn"))
            .select(F.col("node").alias("u"), F.col("mn").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        new_sig = _sig(small)
        E = small
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        raise RuntimeError(
            f"neardup_clusters_star did not converge in {max_iters} "
            "rounds — raise max_iters"
        )
    # star-form certificate: roots only ever appear as v, leaves as u
    if E.select("v").intersect(E.select("u")).count() != 0:
        raise RuntimeError(
            "neardup_clusters_star: fixpoint is not a star graph "
            "(checksum collision?) — raise max_iters and retry"
        )
    ids = nodes.select(F.col(key).alias("id")).distinct()
    out = (
        ids.join(
            E.select(F.col("u").alias("id"), F.col("v").alias("label")),
            "id", "left",
        )
        .select(
            F.col("id").alias(key),
            F.coalesce("label", "id").alias("cluster_id"),
        )
    )
    return out


def simhash(df: DataFrame, text_col: str = "text", key: str = "doc_id",
            bits: int = 16) -> DataFrame:
    """SimHash over distinct words: bit b set iff sum over words of
    (word_hash bit b ? +1 : -1) > 0.

    MAP-ONLY: word hashes and all ``bits`` bit-votes are computed per row
    with array lambdas (``transform`` + one ``aggregate`` per bit) — no
    explode, no crossJoin, no shuffle at all. The previous formulation
    exploded words × crossJoined 16 bit rows, shuffling N_words × bits
    rows into a two-level aggregate (16× inflation at corpus scale);
    this one scans and emits exactly N_docs rows. Docs with no words
    (null/empty text) are excluded, matching the explode semantics the
    oracle encodes.
    """
    # NOTE: must be a 1-arg lambda — F.transform hands a 2-arg callable
    # (element, index), and md5int's optional ``salt`` param would
    # silently receive the array index
    hashes = F.transform(words_expr(F.col(text_col)), lambda w: md5int(w))
    rows = df.select(F.col(key), hashes.alias("_hs")).filter(
        F.size("_hs") > 0
    )
    # ONE fold over the word hashes carrying all ``bits`` vote counters
    # as an array accumulator (zip_with against a literal mask array),
    # instead of ``bits`` separate aggregate folds each re-traversing
    # the array (r6: 16× fewer array traversals per row, and a plan
    # tree of 3 higher-order calls instead of 16 — guide §1.2 step 2).
    # Identical votes: each word still contributes exactly ±1 per bit,
    # summed in the same left-to-right int order. Mask test instead of
    # shiftright — the builtin rejects lambda-variable Columns as its
    # shift count.
    masks = F.array(*[F.lit(1 << b) for b in range(bits)])
    pows = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    votes = F.aggregate(
        F.col("_hs"),
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, F.lit(1))
            .otherwise(F.lit(-1)),
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            votes, pows,
            lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return rows.select(F.col(key), sig.alias("simhash"))


def jaccard_nearest(df: DataFrame, text_col: str = "text",
                    key: str = "doc_id") -> DataFrame:
    """All-pairs word-set Jaccard, top-1 neighbor per doc (small-table
    verify path; at scale run only on LSH candidates).

    Outputs exact integers (intersection, union) — the jaccard double is
    used only for ordering (IEEE division is deterministic cross-engine).
    """
    w = df.select(
        F.col(key), F.explode(words_expr(F.col(text_col))).alias("word")
    )
    sizes = w.groupBy(key).agg(F.count(F.lit(1)).alias("n_words"))
    a = w.alias("a")
    b = w.alias("b")
    inter = (
        a.join(b, "word")
        .filter(F.col(f"a.{key}") != F.col(f"b.{key}"))
        .groupBy(F.col(f"a.{key}").alias("id_a"), F.col(f"b.{key}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(key).alias("id_a"), F.col("n_words").alias("na"))
    sb = sizes.select(F.col(key).alias("id_b"), F.col("n_words").alias("nb"))
    # shuffled equi-joins on both sides: the per-doc sizes relation is
    # O(N) — broadcasting it would build an unbounded driver-side hash
    # relation at corpus scale (round-1 verdict). AQE may still choose a
    # broadcast when the measured size is actually small; that's its call.
    scored = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
        .withColumn("jac", F.col("inter") / F.col("uni"))
    )
    top = W.partitionBy("id_a").orderBy(F.col("jac").desc(), F.col("id_b").asc())
    return (
        scored.withColumn("rn", F.row_number().over(top))
        .filter(F.col("rn") == 1)
        .select(F.col("id_a").alias(key), F.col("id_b").alias("nn_id"),
                "inter", "uni")
    )


def jaccard_verify_candidates(
    df: DataFrame, pairs: DataFrame, text_col: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Exact word-set Jaccard computed ONLY on candidate pairs — the
    scale path of the dedup pipeline: LSH banding proposes, this verifies.

    All shuffled equi-joins keyed on doc id / (doc id, word); nothing is
    broadcast and no all-pairs product exists — cost is O(candidate
    pairs x words), not O(N^2). Returns (id_a, id_b, inter, uni) with
    the jaccard double left to the caller (inter/uni is IEEE-exact).
    """
    w = df.select(
        F.col(key), F.explode(words_expr(F.col(text_col))).alias("word")
    )
    sizes = w.groupBy(key).agg(F.count(F.lit(1)).alias("n_words"))
    wa = w.select(F.col(key).alias("id_a"), "word")
    wb = w.select(F.col(key).alias("id_b"), "word")
    inter = (
        pairs.join(wa, "id_a")          # (id_a, id_b, word of a)
        .join(wb, ["id_b", "word"])     # keep words present in b too
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(key).alias("id_a"), F.col("n_words").alias("na"))
    sb = sizes.select(F.col(key).alias("id_b"), F.col("n_words").alias("nb"))
    return (
        # left join: candidates with zero word overlap keep inter=0
        pairs.join(inter, ["id_a", "id_b"], "left")
        .na.fill({"inter": 0})
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", F.col("inter").cast("long").alias("inter"),
            (F.col("na") + F.col("nb") - F.col("inter")).cast("long")
            .alias("uni"),
        )
    )
