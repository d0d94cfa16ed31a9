"""Document deduplication operators (LLM-data-pipeline extension).

Four families, all shuffle-conscious:

- ``exact_dedup``     — hash-groupBy on content; map-side partial agg means the
                        shuffle carries one row per distinct text per partition.
- ``ngram_jaccard_pairs`` — *exact* token-set Jaccard over candidate pairs,
                        blocked by a cheap key so the cross product never
                        materializes globally. The oracle-checkable baseline.
- ``minhash_lsh_pairs`` — MinHash signatures + banded LSH: the 100 TB path.
                        Cost is O(n·perms) + a groupBy on band keys; only
                        colliding candidates are verified with exact Jaccard.
- ``simhash_pairs``   — 64-bit SimHash + multi-probe banding on hash chunks;
                        near-dup = small Hamming distance.
- ``embedding_near_dup_pairs`` — cosine near-dup over embeddings (see
                        operators/similarity.py for the ANN machinery).

Everything per-PAIR is DataFrame-native: hashing via ``xxhash64``/``md5``,
set math via hash-based ``array_intersect``. The ONE Python crossing is the
Arrow-batched SimHash bit-vote (``_simhash_votes_udf``) — a per-DOCUMENT
numpy kernel replacing a measured-slow higher-order-function fold; no
row-at-a-time UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_ecommerce_data_spark.functions.text import tokens
from etl_ecommerce_data_spark.partitioning import spread_if_narrow
from etl_ecommerce_data_spark.reuse import scoped, shared


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one survivor (min id) per distinct text + duplicate count.

    At scale, grouping by a 32-hex-char md5 instead of the full text keeps
    shuffle rows small; we group by the hash and keep min(id). (Output keeps
    the hash so downstream can join back to content if needed.)

    NULL texts are excluded, matching the minhash/simhash paths: md5(NULL)
    is NULL and groupBy treats NULLs as equal, so without the filter every
    content-less document would collapse into ONE "duplicate" group and a
    keep-one-per-cluster consumer would drop all but one of them.
    """
    return (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(F.col(id_col)).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select(id_col, "content_hash", "dup_count")
    )


def _distinct_tokens(text_col: Column) -> Column:
    return F.array_distinct(tokens(text_col))


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    block_col: str | None = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact distinct-token Jaccard similarity pairs (a < b) above threshold.

    Pairs are blocked on ``block_col`` (docs in different blocks are never
    compared) so the join is a per-block cross product — fine for moderate
    blocks, and the exact-verification stage LSH candidates feed into. The
    Jaccard value is a ratio of exact ints → bit-identical to the SQL oracle.
    """
    a = df.select(
        F.col(id_col).alias("doc_a"),
        _distinct_tokens(F.col(text_col)).alias("toks_a"),
        *([F.col(block_col).alias("__blk")] if block_col else []),
    )
    b = df.select(
        F.col(id_col).alias("doc_b"),
        _distinct_tokens(F.col(text_col)).alias("toks_b"),
        *([F.col(block_col).alias("__blk")] if block_col else []),
    )
    # Unblocked = all-pairs by contract, only ever used on capped inputs
    # (baselines / recall ground truth) — broadcast the right side so the
    # plan is a BroadcastNestedLoopJoin over a bounded build side, never an
    # unplanned CartesianProduct.
    pairs = a.join(b, "__blk") if block_col else a.crossJoin(F.broadcast(b))
    pairs = pairs.filter(F.col("doc_a") < F.col("doc_b"))
    # arrays are distinct → intersect size == filtered-contains count, but
    # array_intersect is hash-based O(|a|+|b|) instead of O(|a|·|b|)
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b"))).cast("long")
    pairs = pairs.withColumn("n_inter", inter)
    pairs = pairs.withColumn("n_a", F.size("toks_a").cast("long")).withColumn("n_b", F.size("toks_b").cast("long"))
    jac = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    out = pairs.withColumn("jaccard", jac).filter(F.col("jaccard") >= threshold)
    return out.select("doc_a", "doc_b", "n_inter", "jaccard")


def _token_hashes(text_col: Column) -> Column:
    """Distinct tokens pre-hashed to longs — ONE string hash per token; the
    per-permutation work downstream then hashes fixed-width longs only (3.5×
    faster than per-permutation string hashing, measured at sf0.1)."""
    return F.transform(_distinct_tokens(text_col), lambda t: F.xxhash64(t))


def _sig_from_hashes(hashes_col: Column, num_perms: int) -> Column:
    """MinHash signature from a pre-hashed token array: permutation ``p`` is
    ``xxhash64(token_hash, p)`` (a long-pair hash, constant-width work). The
    pre-hash composition stays a valid MinHash family — pre-hash collisions
    merge tokens with probability ~n²/2⁶⁴, negligible vs the sketch error."""
    return F.array(
        *[
            F.array_min(F.transform(hashes_col, lambda h: F.xxhash64(h, F.lit(p))))
            for p in range(num_perms)
        ]
    )


def minhash_signature(text_col: Column, num_perms: int = 64) -> Column:
    """MinHash signature: min over ``num_perms`` permutation hashes, as one
    array<long> expression (JVM-side). Tokens are string-hashed ONCE, then
    each permutation mixes the long (see ``_sig_from_hashes``)."""
    return _sig_from_hashes(_token_hashes(text_col), num_perms)


def _banded_buckets_from_hashes(
    pre: DataFrame, num_perms: int, bands: int
) -> DataFrame:
    """(doc_id, band, bucket, n_toks) rows from a pre-hashed ``(doc_id,
    __hs)`` frame (see ``_token_hashes``): signatures in one pass (no
    shuffle), banding explodes IDS ONLY — band-bucket joins shuffle narrow
    rows, never token arrays. ``n_toks`` (distinct token count, one long per
    row) rides along so candidate pairs can be size-ratio prefiltered BEFORE
    the re-join (see ``minhash_lsh_pairs``). Taking the hash frame as input
    lets callers compute the tokenize+hash scan ONCE and reuse it for exact
    verification."""
    if bands <= 0 or num_perms % bands != 0:
        # a silent floor-division would band only (num_perms // bands) *
        # bands of the computed permutations — the caller's tuned S-curve
        # quietly becomes a different one (and bands > num_perms builds a
        # zero-arg xxhash64 that fails far from the mistaken parameter)
        raise ValueError(
            f"num_perms ({num_perms}) must be a positive multiple of bands "
            f"({bands}) — every permutation must land in exactly one band"
        )
    rows_per_band = num_perms // bands
    sigs = pre.select(
        "doc_id",
        _sig_from_hashes(F.col("__hs"), num_perms).alias("sig"),
        F.size(F.col("__hs")).cast("long").alias("n_toks"),
    )
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.xxhash64(
                            *[F.element_at("sig", band * rows_per_band + r + 1) for r in range(rows_per_band)]
                        ).alias("bucket"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("bh"),
        "n_toks",
    ).select(
        "doc_id",
        F.col("bh.band").alias("band"),
        F.col("bh.bucket").alias("bucket"),
        "n_toks",
    )


def _banded_buckets(
    docs: DataFrame, num_perms: int, bands: int, text_col: str = "__text"
) -> DataFrame:
    """Text-input convenience wrapper over ``_banded_buckets_from_hashes``
    (tokenizes + hashes in place; use the hash-frame form when the caller
    also needs the hashes for verification)."""
    pre = docs.select("doc_id", _token_hashes(F.col(text_col)).alias("__hs"))
    return _banded_buckets_from_hashes(pre, num_perms, bands)


def _size_ratio_ok(n_a: Column, n_b: Column, threshold: float) -> Column:
    """LOSSLESS candidate prefilter: Jaccard(A,B) >= t implies
    |A∩B| >= t·(|A|+|B|-|A∩B|) and |A∩B| <= min(|A|,|B|), which rearranges to
    min(|A|,|B|) >= t·max(|A|,|B|). Pairs failing the bound cannot verify, so
    dropping them changes nothing but the verified-pair volume. The -1.0
    integer slack absorbs double rounding in the later jaccard division (the
    counts are integers, so a whole-unit margin is far beyond any ulp drift)."""
    return F.least(n_a, n_b).cast("double") >= (
        F.lit(threshold) * F.greatest(n_a, n_b).cast("double") - F.lit(1.0)
    )


@scoped
def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    num_perms: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int | None = 512,
) -> DataFrame:
    """MinHash + banded LSH near-dup candidates, verified with exact Jaccard.

    The scale path, shuffle-weight-conscious end to end:

    1. EXACT-DEDUP PRE-PASS: byte-identical texts collapse to one
       representative (min id) before any signature work — on real crawl
       corpora exact dups are the usual mega-bucket cause, and hashing them
       once instead of per-copy is pure savings. Pairs among collapsed
       copies are re-emitted at the end (jaccard = 1.0 by construction) and
       representative pairs are expanded back to member pairs — with the
       SAME ``bucket_cap`` star degradation as step 4 once a duplicate
       group outgrows the cap (intra groups emit a star around the
       representative; cross expansions where either group exceeds the cap
       emit a double star through the two representatives instead of the
       |G_a|×|G_b| bipartite product). Below the cap — every group at the
       oracle scale factors — the full pair listing is unchanged; above
       it, pair-LISTING completeness degrades exactly like an oversized
       band bucket while cluster connectivity survives through the
       representatives.
    2. signatures in one scan pass (no shuffle) over representatives only;
    3. banding explodes IDS ONLY — the band-bucket join and the candidate
       dedup shuffle narrow (doc_a, doc_b) rows, never token arrays (on a
       self-similar corpus band collisions are ~bands× the distinct pairs,
       so shipping payloads through them dominates the job);
    4. MEGA-BUCKET GUARD: a (band, bucket) with B > ``bucket_cap`` members
       would emit B²/2 candidates — the skewed-key blowup that kills the job
       at scale (one degenerate bucket at 100 TB ⇒ one straggler task doing
       quadratic work). Oversized buckets degrade to STAR candidate
       generation instead: each member is paired with the bucket's min-id
       anchor only (B−1 candidates, linear). Verified star pairs are still
       exact-Jaccard-true pairs, and for the downstream clustering consumer
       a star keeps every bucket member reachable through the anchor, so
       cluster connectivity of genuine near-dup CLIQUES survives the cap.
       Non-clique chains can split: similarity is not transitive, so a
       member whose anchor pair fails verification may lose connectivity
       all-pairs banding would have found — measured ≤1% of docs moving
       cluster at the oracle SFs with a forced cap=64, and driver-pinned by
       ``dedup_star_cap_floor`` (agreement ≥98%, anchor-pair recall 1.0,
       zero false pairs, listing degraded). The recall cost is pair-LISTING
       completeness inside oversized buckets only (measure with
       ``minhash_lsh_bucket_stats``; the default cap never triggers at the
       oracle scale factors, so the driver-checked recall floor is
       unaffected). ``bucket_cap=None`` disables the guard.
    5. SIZE-RATIO PREFILTER (lossless): Jaccard >= t forces
       min(|A|,|B|) >= t·max(|A|,|B|) (see ``_size_ratio_ok``), and the
       distinct-token counts ride the banded table as one long per row — so
       candidates that cannot possibly verify are dropped BEFORE the pair
       dedup shuffle and the token re-join, with zero recall cost;
    6. token-HASH arrays (the same single tokenize+hash scan the signatures
       came from) are re-attached to the deduped candidate pairs by an
       equi-join on doc id (AQE broadcasts the doc-side at small scale; at
       100 TB it is a shuffle join carrying each doc's hashes once, not
       once per band);
    7. exact-Jaccard verification via hash-based ``array_intersect`` over
       fixed-width longs (O(|a|+|b|); distinct tokens ↔ distinct hashes up
       to a ~|toks|²/2⁶⁵ collision probability, far below the sketch's own
       error) — no false positives beyond that vanishing bound.

    With 64 perms / 16 bands / rows-per-band 4 the S-curve midpoint is
    ~(1/16)^(1/4) ≈ 0.5 — good recall at threshold 0.6.
    """
    base = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    ).filter(F.col("__text").isNotNull())
    # A narrow scan (one row group ⇒ one task) would serialize the md5 pass,
    # the tokenize+hash scan AND — because the persisted frames inherit the
    # scan's partition count — every shared consumer below, including the
    # banded candidate join. One adaptive shuffle here parallelizes the
    # whole plan; no-op at real scale (see partitioning.spread_if_narrow).
    base = spread_if_narrow(base)
    # persisted: groups and mapping project it differently (no exchange reuse),
    # so each would rerun the text scan + md5
    hashed = shared(base.withColumn("__ch", F.md5("__text")))
    groups = hashed.groupBy("__ch").agg(
        F.min("doc_id").alias("rep_id"),
        F.count(F.lit(1)).alias("grp_n"),
        F.first("__text").alias("__text"),  # identical within the group
    )
    # member → representative mapping (identity rows included); read by the
    # cross expansion (both sides) and dup_members — narrow rows, so the
    # persist is cheap and saves the join replaying per consumer
    mapping = shared(
        hashed.select("doc_id", "__ch")
        .join(groups.select("__ch", "rep_id"), "__ch")
        .select("doc_id", "rep_id")
    )
    rep_docs = groups.select(F.col("rep_id").alias("doc_id"), "__text")

    # ONE tokenize+hash scan: the hash arrays feed BOTH the banding
    # signatures and the exact-Jaccard verification (distinct tokens ↔
    # distinct hashes; a 64-bit hash collision inside one document has
    # probability ~|toks|²/2⁶⁵ — negligible), so the text column is scanned
    # once and no string work repeats. Verification intersects fixed-width
    # longs instead of strings — same counts, cheaper hashing.
    rep_hs = shared(
        rep_docs.select("doc_id", _token_hashes(F.col("__text")).alias("__hs"))
    )
    banded = _banded_buckets_from_hashes(rep_hs, num_perms, bands)
    # Shared persist: every read of the band table (both self-join sides
    # AND the bucket-size pass) hits the SAME materialized rows, so the
    # 64-permutation signatures are computed once (−18% measured at sf0.1).
    banded = shared(banded)

    if bucket_cap is not None:
        sizes = banded.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("__bkt_n"), F.min("doc_id").alias("__anchor")
        )
        annotated = banded.join(sizes, ["band", "bucket"])
        small = annotated.filter(F.col("__bkt_n") <= bucket_cap)
        a = small.select(
            F.col("doc_id").alias("doc_a"), "band", "bucket", F.col("n_toks").alias("n_a")
        )
        b = small.select(
            F.col("doc_id").alias("doc_b"), "band", "bucket", F.col("n_toks").alias("n_b")
        )
        # size-ratio prefilter BEFORE the pair dedup shuffle and the token
        # re-join: lossless (see _size_ratio_ok), cuts verified-pair volume
        all_pairs = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .filter(_size_ratio_ok(F.col("n_a"), F.col("n_b"), threshold))
            .select("doc_a", "doc_b")
        )
        star_pairs = (
            annotated.filter(F.col("__bkt_n") > bucket_cap)
            .filter(F.col("doc_id") != F.col("__anchor"))
            .select(F.col("__anchor").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        )
        cands = all_pairs.unionByName(star_pairs).dropDuplicates(["doc_a", "doc_b"])
    else:
        a = banded.select(
            F.col("doc_id").alias("doc_a"), "band", "bucket", F.col("n_toks").alias("n_a")
        )
        b = banded.select(
            F.col("doc_id").alias("doc_b"), "band", "bucket", F.col("n_toks").alias("n_b")
        )
        cands = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .filter(_size_ratio_ok(F.col("n_a"), F.col("n_b"), threshold))
            .select("doc_a", "doc_b")
            .dropDuplicates(["doc_a", "doc_b"])
        )
    cands = cands.join(
        rep_hs.select(F.col("doc_id").alias("doc_a"), F.col("__hs").alias("hs_a")),
        "doc_a",
    ).join(
        rep_hs.select(F.col("doc_id").alias("doc_b"), F.col("__hs").alias("hs_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b"))).cast("long")
    cands = cands.withColumn("n_inter", inter)
    jac = F.col("n_inter").cast("double") / (
        F.size("hs_a").cast("long") + F.size("hs_b").cast("long") - F.col("n_inter")
    )
    verified = (
        cands.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )

    # Expand representative pairs back to member pairs (each doc has exactly
    # one representative, so the expansion cannot duplicate a pair). The
    # expansion is |G_a|×|G_b| per verified rep pair — quadratic in group
    # size, the SAME skew blowup the band-bucket guard exists for (two
    # mega-groups of near-identical boilerplate would emit their full
    # bipartite product from ONE verified row). Pairs where either group
    # exceeds bucket_cap therefore degrade to a DOUBLE STAR through the two
    # representatives (|G_a|+|G_b| pairs): members are byte-identical to
    # their reps, so every emitted pair carries the rep pair's true
    # (n_inter, jaccard), and both groups stay fully connected through the
    # rep-rep edge for the clustering consumer — the identical
    # guard/connectivity argument as the intra-group star below.
    ma = mapping.select(F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("__x"))
    mb = mapping.select(F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("__y"))
    gsz = groups.select("rep_id", "grp_n")
    sized = verified.join(
        gsz.select(F.col("rep_id").alias("doc_a"), F.col("grp_n").alias("__ga")),
        "doc_a",
    ).join(
        gsz.select(F.col("rep_id").alias("doc_b"), F.col("grp_n").alias("__gb")),
        "doc_b",
    )
    # The expansion reads `sized` from the small-group branch AND (twice)
    # from the big-group branch, and the physical planner cannot share one
    # subtree across union branches — without this shared persist the ENTIRE
    # candidate-dedup + hash-attach + array_intersect verification pipeline
    # re-executes per branch (measured at sf0.1: the 1.9M-candidate verify
    # chain appeared twice in the executed plan, ~2× the query's dominant
    # stage). Narrow rows (two ids, two counts, two numbers).
    sized = shared(sized)
    pair_cols = lambda x, y: [  # noqa: E731 — normalized output columns
        F.least(x, y).alias("doc_a"),
        F.greatest(x, y).alias("doc_b"),
        F.col("n_inter"),
        F.col("jaccard"),
    ]
    if bucket_cap is not None:
        small = sized.filter(
            (F.col("__ga") <= bucket_cap) & (F.col("__gb") <= bucket_cap)
        )
        big = sized.filter(
            (F.col("__ga") > bucket_cap) | (F.col("__gb") > bucket_cap)
        )
        cross = (
            small.join(ma, "doc_a").join(mb, "doc_b")
            .select(*pair_cols(F.col("__x"), F.col("__y")))
            # star over A's members against rep_b (identity row covers the
            # rep-rep pair) ...
            .unionByName(
                big.join(ma, "doc_a").select(*pair_cols(F.col("__x"), F.col("doc_b")))
            )
            # ... and rep_a against B's members, rep_b excluded (emitted above)
            .unionByName(
                big.join(mb, "doc_b")
                .filter(F.col("__y") != F.col("doc_b"))
                .select(*pair_cols(F.col("doc_a"), F.col("__y")))
            )
        )
    else:
        cross = (
            sized.join(ma, "doc_a").join(mb, "doc_b")
            .select(*pair_cols(F.col("__x"), F.col("__y")))
        )
    # Intra-group pairs: byte-identical texts ⇒ jaccard 1.0, n_inter = token
    # count (matching what exact verification would compute; empty-token
    # texts yield null jaccard in the exact path, so they are excluded here
    # too). A group larger than bucket_cap emits a star around the
    # representative rather than all B²/2 pairs — same guard, same
    # connectivity argument as the band buckets.
    nt = rep_hs.select(
        F.col("doc_id").alias("rep_id"), F.size("__hs").cast("long").alias("__nt")
    )
    dup_members = (
        mapping.join(groups.filter(F.col("grp_n") > 1).select("rep_id", "grp_n"), "rep_id")
        .join(nt, "rep_id")
        .filter(F.col("__nt") > 0)
    )
    ia = dup_members.select("rep_id", F.col("doc_id").alias("__x"), "__nt", "grp_n")
    ib = dup_members.select("rep_id", F.col("doc_id").alias("__y"))
    intra_all = (
        (ia.filter(F.col("grp_n") <= bucket_cap) if bucket_cap is not None else ia)
        .join(ib, "rep_id")
        .filter(F.col("__x") < F.col("__y"))
        .select(
            F.col("__x").alias("doc_a"),
            F.col("__y").alias("doc_b"),
            F.col("__nt").alias("n_inter"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    intra = intra_all
    if bucket_cap is not None:
        intra_star = (
            ia.filter(F.col("grp_n") > bucket_cap)
            .filter(F.col("__x") != F.col("rep_id"))
            .select(
                F.col("rep_id").alias("doc_a"),
                F.col("__x").alias("doc_b"),
                F.col("__nt").alias("n_inter"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        intra = intra_all.unionByName(intra_star)
    return cross.unionByName(intra)


@scoped
def minhash_lsh_pairs_cross(
    df_new: DataFrame,
    df_corpus: DataFrame,
    threshold: float = 0.6,
    num_perms: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int | None = 512,
) -> DataFrame:
    """Asymmetric LSH near-dup: pairs BETWEEN a new batch and an existing
    corpus — the incremental-ingestion dedup shape (daily crawl vs the 100 TB
    corpus already on disk).

    Deliberately NOT the self-join composed over a union: a union would pay
    for within-side candidate pairs (quadratic in the corpus's internal
    duplication) when only cross-side pairs are wanted. Here each side is
    banded independently and candidates come from the new ⋈ corpus band-bucket
    equi-join only, so candidate volume scales with the NEW batch's collision
    count — the corpus never self-joins. At steady state the corpus band table
    is written once at ingest and only the (small) new side is hashed per
    batch.

    Mega-bucket guard mirrors ``minhash_lsh_pairs``: a corpus-side
    (band, bucket) group larger than ``bucket_cap`` pairs new members with the
    bucket's min-id corpus anchor only (linear, not |new|×|corpus-bucket|).
    Output: (new_id, corpus_id, n_inter, jaccard >= threshold), exact-Jaccard
    verified — zero false positives. Identical id spaces are allowed; a doc
    present on both sides pairs with itself at jaccard 1.0.
    """
    new_base = df_new.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    ).filter(F.col("__text").isNotNull())
    old_base = df_corpus.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    ).filter(F.col("__text").isNotNull())
    # same adaptive widening as minhash_lsh_pairs: the persisted hash/band
    # tables inherit the scan's partition count, so a one-task scan would
    # serialize banding AND the band-bucket candidate join
    new_base = spread_if_narrow(new_base)
    old_base = spread_if_narrow(old_base)

    # one tokenize+hash scan per side, reused by banding AND verification
    # (see minhash_lsh_pairs)
    new_hs = shared(
        new_base.select("doc_id", _token_hashes(F.col("__text")).alias("__hs"))
    )
    old_hs = shared(
        old_base.select("doc_id", _token_hashes(F.col("__text")).alias("__hs"))
    )
    nb = shared(
        _banded_buckets_from_hashes(new_hs, num_perms, bands)
        .withColumnRenamed("doc_id", "new_id")
        .withColumnRenamed("n_toks", "__n_new")
    )
    ob = shared(
        _banded_buckets_from_hashes(old_hs, num_perms, bands)
        .withColumnRenamed("doc_id", "corpus_id")
        .withColumnRenamed("n_toks", "__n_old")
    )
    ratio_ok = _size_ratio_ok(F.col("__n_new"), F.col("__n_old"), threshold)
    if bucket_cap is not None:
        sizes = ob.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("__bkt_n"), F.min("corpus_id").alias("__anchor")
        )
        annotated = ob.join(sizes, ["band", "bucket"])
        small = annotated.filter(F.col("__bkt_n") <= bucket_cap).select(
            "band", "bucket", "corpus_id", "__n_old"
        )
        # lossless size-ratio prefilter before the pair-dedup shuffle (see
        # _size_ratio_ok); star pairs are already linear, left unfiltered
        plain = (
            nb.join(small, ["band", "bucket"])
            .filter(ratio_ok)
            .select("new_id", "corpus_id")
        )
        big = (
            annotated.filter(F.col("__bkt_n") > bucket_cap)
            .select("band", "bucket", F.col("__anchor").alias("corpus_id"))
            .distinct()
        )
        star = nb.join(big, ["band", "bucket"]).select("new_id", "corpus_id")
        cands = plain.unionByName(star).dropDuplicates(["new_id", "corpus_id"])
    else:
        cands = (
            nb.join(ob, ["band", "bucket"])
            .filter(ratio_ok)
            .select("new_id", "corpus_id")
            .dropDuplicates(["new_id", "corpus_id"])
        )

    cands = cands.join(
        new_hs.select(F.col("doc_id").alias("new_id"), F.col("__hs").alias("hs_a")),
        "new_id",
    ).join(
        old_hs.select(F.col("doc_id").alias("corpus_id"), F.col("__hs").alias("hs_b")),
        "corpus_id",
    )
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b"))).cast("long")
    cands = cands.withColumn("n_inter", inter)
    jac = F.col("n_inter").cast("double") / (
        F.size("hs_a").cast("long") + F.size("hs_b").cast("long") - F.col("n_inter")
    )
    return (
        cands.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "n_inter", "jaccard")
    )


def minhash_lsh_bucket_stats(
    df: DataFrame,
    num_perms: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = 512,
) -> DataFrame:
    """One-row skew diagnostic for the LSH banding — the 'logged drop count'
    for the mega-bucket guard, as a queryable DataFrame so the number is
    driver-recordable evidence rather than a log line: how many (band,
    bucket) groups exceed ``bucket_cap``, the all-pairs candidate volume the
    cap avoided, and the linear star volume emitted instead."""
    base = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    ).filter(F.col("__text").isNotNull())
    reps = (
        base.withColumn("__ch", F.md5("__text"))
        .groupBy("__ch")
        .agg(F.min("doc_id").alias("doc_id"), F.first("__text").alias("__text"))
        .select("doc_id", "__text")
    )
    sizes = _banded_buckets(reps, num_perms, bands).groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    n = F.col("n").cast("long")
    return sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("n").cast("long").alias("max_bucket"),
        F.sum(F.when(n > bucket_cap, F.lit(1)).otherwise(F.lit(0))).cast("long").alias("n_capped_buckets"),
        F.sum(F.when(n <= bucket_cap, n * (n - 1) / 2).otherwise(F.lit(0))).cast("long").alias("allpairs_candidates_kept"),
        F.sum(F.when(n > bucket_cap, n - 1).otherwise(F.lit(0))).cast("long").alias("star_candidates_emitted"),
        F.sum(F.when(n > bucket_cap, n * (n - 1) / 2 - (n - 1)).otherwise(F.lit(0))).cast("long").alias("candidates_avoided_by_cap"),
    )


_SIMHASH_UDF = None


def _simhash_votes_udf():
    """Arrow-batched SimHash bit-vote: array<long> token hashes → packed
    64-bit SimHash (bit b set iff a strict majority of tokens set bit b).

    The JVM side still does ALL the string work (tokenize + one xxhash64 per
    distinct token); only the 64-bit majority vote crosses to numpy — the
    higher-order-function fold it replaces cost ~0.7 ms/row (64 shift-adds
    per token, ~200 ns per interpreted element-op), i.e. 3.6 s of the 4.8 s
    query at sf0.1; the vectorized vote is ~30 µs/row. Bit-for-bit identical
    output: same hashes, same strict-majority rule, same two's-complement
    packing (bit 63 is the sign bit)."""
    global _SIMHASH_UDF
    if _SIMHASH_UDF is None:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        shifts = np.arange(64, dtype=np.uint64)

        def vote(hashes_series):
            out = []
            for hs in hashes_series:
                if hs is None:
                    out.append(None)
                    continue
                k = len(hs)
                if k == 0:
                    out.append(0)
                    continue
                u = np.asarray(hs, dtype=np.int64).view(np.uint64)
                bits = (u[:, None] >> shifts) & np.uint64(1)  # (k, 64)
                maj = bits.sum(axis=0, dtype=np.int64) * 2 > k
                word = (maj.astype(np.uint64) << shifts).sum(dtype=np.uint64)
                # astype wraps out-of-range uint64→int64 in every NumPy
                # version; int(np.int64(x)) raises OverflowError on NumPy 2.x
                # whenever the majority sets bit 63
                out.append(int(word.astype(np.int64)))
            return pd.Series(out, dtype="object")

        _SIMHASH_UDF = pandas_udf(vote, "long")
    return _SIMHASH_UDF


def simhash64(text_col: Column) -> Column:
    """64-bit SimHash from token xxhash64 bits: per bit, sign of the sum of
    ±1 votes across tokens (equivalently: strict majority of set bits).

    One hash per TOKEN, hashed JVM-side; the 64-way majority vote is the
    Arrow-batched numpy kernel ``_simhash_votes_udf`` (see its docstring for
    the measured JVM-fold cost that justifies the exception)."""
    return _simhash_votes_udf()(_token_hashes(text_col))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


@scoped
def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit hash into ``bands`` chunks;
    any pair within Hamming distance < ``bands`` must collide on ≥1 chunk
    (pigeonhole), so the chunk-groupBy finds all such pairs without a cross
    join.

    ``max_hamming`` must stay BELOW ``bands`` — that is the completeness
    guarantee's whole extent. A wider filter would silently miss pairs: two
    hashes differing by one bit in EVERY chunk (hamming == bands) collide
    on no chunk and never become candidates, yet would pass the filter —
    the output would claim a completeness it doesn't have. Wider radii need
    more bands (pinned by ``dedup_simhash_complete``'s pigeonhole oracle).
    """
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) >= bands ({bands}): the chunk "
            "pigeonhole only guarantees candidates below the band count — "
            "raise bands to widen the radius (listing would be silently "
            "incomplete otherwise)"
        )
    h = df.select(F.col(id_col).alias("doc_id"), simhash64(F.col(text_col)).alias("simhash"))
    width = 64 // bands
    chunks = h.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftrightunsigned("simhash", i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", F.col("c.chunk_id").alias("chunk_id"), F.col("c.chunk").alias("chunk"))
    # one SimHash computation shared by both self-join sides (see
    # minhash_lsh_pairs for the tradeoff notes). Widening happens AFTER the
    # Arrow vote UDF, not before: the vote on a narrow scan is one warm
    # Python worker doing a trivial vectorized pass, whereas widening first
    # would fan the stage into defaultParallelism concurrent Python workers
    # whose cold fork+import cost dwarfs the kernel (Spark reaps idle
    # workers after a hardcoded minute, so mid-session Python stages fork
    # cold). The narrow post-UDF shuffle still parallelizes the shared
    # chunk table for the collision join below.
    chunks = shared(spread_if_narrow(chunks))
    a = chunks.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "chunk_id", "chunk")
    b = chunks.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "chunk_id", "chunk")
    return (
        a.join(b, ["chunk_id", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"))
        # hamming is a pure function of the pair, so filtering BEFORE the
        # pair-dedup exchange is semantically identical and keeps the
        # majority of chunk collisions (random 16-bit matches on a diverse
        # corpus) out of the shuffle entirely
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    node_col: str = "doc_id",
    max_iters: int = 25,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: (node, cluster_id) where
    cluster_id = min node id reachable through the pair graph. The step from
    pairwise dedup output to "keep one doc per duplicate cluster".

    Iterative min-label propagation, all DataFrame ops: each round every node
    takes the min of its own label and its neighbors' labels, until a round
    changes nothing (or ``max_iters``). Rounds needed ≈ graph diameter — small
    for near-dup clusters. Each round is one join + groupBy (shuffle on node
    id); ``localCheckpoint`` truncates the growing lineage so round N's plan
    does not replay rounds 1..N-1; the edge list is persisted once and reused.

    Deterministic by construction (min over node ids). Isolated nodes keep
    their own id → singleton clusters.
    """
    und = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .persist()
    )
    labels = nodes.select(F.col(node_col).alias("n")).distinct().withColumn(
        "lbl", F.col("n")
    ).localCheckpoint(eager=True)
    # An edge endpoint absent from nodes has no label row, so the inner
    # join below silently drops every hop through it — components that the
    # edges DO connect converge as separate clusters with no error. That is
    # a caller bug (e.g. docs filtered after pairing); fail loudly like the
    # non-convergence path does instead of mislabeling. Cost: one anti-join
    # count over the (already persisted) edge list, once per call.
    orphans = (
        und.select(F.col("s").alias("n")).distinct()
        .join(labels.select("n"), "n", "left_anti")
        .count()
    )
    if orphans:
        und.unpersist()
        raise ValueError(
            f"connected_components: {orphans} edge endpoint(s) missing from "
            "nodes — labels would silently split components; pass every "
            "endpoint in the nodes frame"
        )
    converged = False
    try:
        for _ in range(max_iters):
            nbr_min = (
                und.join(labels, und["s"] == labels["n"])
                .groupBy("d")
                .agg(F.min("lbl").alias("nbr_lbl"))
            )
            updated = (
                labels.join(nbr_min, labels["n"] == nbr_min["d"], "left")
                .select(
                    "n",
                    F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
                    F.col("lbl").alias("prev"),
                )
                .localCheckpoint(eager=True)
            )
            changed = updated.filter(F.col("lbl") != F.col("prev")).count()
            labels = updated.drop("prev")
            if changed == 0:
                converged = True
                break
    finally:
        und.unpersist()
    if not converged:
        # Emitting partial labels would be silently wrong (nodes on a chain
        # longer than max_iters keep a non-minimal cluster_id) and would break
        # the determinism contract — fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge within max_iters={max_iters} "
            "rounds (graph diameter exceeds the iteration cap); raise max_iters"
        )
    return labels.select(F.col("n").alias(node_col), F.col("lbl").alias("cluster_id"))


@scoped
def boilerplate_removal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 8,
    min_docs: int = 3,
) -> DataFrame:
    """Corpus-level boilerplate removal (CCNet/Dolma paragraph dedup over
    fixed-size token chunks): a chunk appearing in >= ``min_docs`` DISTINCT
    documents is boilerplate; every document is re-emitted with those chunks
    dropped, original chunk order preserved.

    Returns ``(id_col, clean_text, n_chunks, n_removed)`` — one row per input
    document, including documents whose every chunk was removed
    (``clean_text = ''``).

    Scale shape: chunk explode → chunk-frequency aggregate FILTERED to the
    boilerplate set (high-frequency by definition, so its distinct-chunk
    count stays broadcastable long after the full frequency table stops
    being so) → membership left-join → per-doc regroup. Two real shuffles;
    the join side never carries the full vocabulary.
    """
    from etl_ecommerce_data_spark.functions.text import chunk_texts

    # persisted: the frequency agg and the membership join would each rerun the
    # tokenize/chunk/posexplode and whatever upstream transform made text_col
    # null text coalesces to '' (one empty chunk) so the one-row-per-doc
    # contract holds: posexplode of chunk_texts(NULL) would silently drop
    # the document from the output entirely
    chunks = shared(
        docs.select(
            F.col(id_col).alias("__id"),
            F.posexplode(
                chunk_texts(F.coalesce(F.col(text_col), F.lit("")), chunk_tokens)
            ).alias("pos", "chunk"),
        )
    )
    # the empty chunk (only produced by empty/null text) can never be
    # boilerplate: >= min_docs text-less docs would otherwise flag '' as
    # shared content and every empty doc would report a phantom removal
    boiler = (
        chunks.filter(F.col("chunk") != "")
        .groupBy("chunk")
        .agg(F.countDistinct("__id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("chunk", F.lit(True).alias("__boiler"))
    )
    flagged = chunks.join(boiler, "chunk", "left").select(
        "__id",
        F.col("pos").cast("long").alias("pos"),
        "chunk",
        F.coalesce(F.col("__boiler"), F.lit(False)).alias("is_boiler"),
    )
    kept = F.array_sort(
        F.collect_list(F.when(~F.col("is_boiler"), F.struct("pos", "chunk")))
    )
    return flagged.groupBy("__id").agg(
        F.concat_ws(" ", F.transform(kept, lambda x: x["chunk"])).alias("clean_text"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("is_boiler").cast("long")).alias("n_removed"),
    ).withColumnRenamed("__id", id_col)
