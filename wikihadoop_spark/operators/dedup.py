"""Deduplication operators: exact, MinHash+LSH, SimHash.

Design for 100 TB:
- Exact dedup is a hash-aggregate on a fingerprint (map-side combine,
  one shuffle) — never a pairwise comparison.
- Near-dup never does all-pairs: MinHash signatures are a single
  explode + hash-aggregate; LSH banding turns candidate generation
  into an equi-join on band keys (shuffle on band key, AQE handles
  hot bands); exact verification runs only on the candidate pairs.

Everything here is engine-portable on purpose: the hash family is
md5-based (not Spark's murmur3) so the DuckDB oracle can mirror the
exact same arithmetic.  All ops stay in built-in JVM expressions — no
Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..memo import context, memo

# Fixed permutation family h_i(x) = (A[i] * x + B[i]) mod M over
# x in [0, M).  M = 2^31 - 1 keeps every product below 2^62 (no bigint
# overflow under ANSI mode — same closed form is embedded in the oracle
# SQL).  Constants generated once with seed 20260813.
MERSENNE31 = 2147483647
MINHASH_A = [2128164061, 398802783, 596987483, 1147225394, 1916785055, 1479347477, 972347433, 116450323, 291219901, 430979122, 234034475, 1406942088, 1761180996, 1267685541, 924035317, 1172698796, 2038977239, 402639406, 2143289124, 1357670271, 1355823819, 2113210626, 668925749, 252657890, 1177825180, 428031841, 1696544698, 230896654, 794664036, 1758809001, 1480032976, 858479240]
MINHASH_B = [527406850, 106582524, 1903391909, 87966394, 666804717, 1973199131, 490296874, 1423351956, 955195195, 331877174, 1530448621, 2086450537, 890048279, 664594620, 970348799, 767008894, 2005366379, 811038816, 1658406169, 297044272, 788724776, 1949869887, 1988273002, 1035172614, 307572219, 1793558278, 961940036, 1524628944, 1962834532, 104594903, 1989011545, 1619595135]

TOKEN_PATTERN = "[a-z0-9]+"


def hash64(col: Column) -> Column:
    """Portable 60-bit hash: first 15 hex digits of md5, as bigint.

    Identical in DuckDB as ``('0x' || substr(md5(x), 1, 15))::BIGINT``.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def hash31(col: Column) -> Column:
    """hash64 reduced into [0, 2^31-1) for overflow-free permutation."""
    return hash64(col) % F.lit(MERSENNE31)


def tokens(text: Column) -> Column:
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_PATTERN), 0)


def shingles(text: Column, k: int = 3) -> Column:
    """k-token shingles (space-joined).  Short texts fall back to one
    whole-text shingle so every document gets a signature."""
    t = tokens(text)
    windows = F.transform(
        F.sequence(F.lit(1), F.size(t) - F.lit(k - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, k)),
    )
    return F.when(F.size(t) >= k, windows).otherwise(F.array(F.lower(text)))


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Canonicalize exact duplicates over ``cols``: one row per distinct
    value set with the minimum id as the keeper and the duplicate count.
    Deterministic, unlike ``dropDuplicates`` (which keeps an arbitrary
    row per key)."""
    return df.groupBy(*cols).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("n_dupes"),
    )


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """One row per document: ``id_col, s0..s{n-1}`` minhash signature.

    Plan shape: project shingles → explode → hash once → aggregate n
    mins (map-side partial aggregation keeps the shuffle at one row per
    (doc, partition)).
    """
    if n_hashes > len(MINHASH_A):
        raise ValueError(f"at most {len(MINHASH_A)} hash functions available")
    # materialize the token array once per doc — inlining `shingles(text)`
    # would re-run the tokenizer regexp 3x per row (no CSE across the
    # when/size/transform branches)
    k = shingle_k
    toks = df.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("__t"),
        F.lower(F.col(text_col)).alias("__lt"),
    )
    windows = F.transform(
        F.sequence(F.lit(1), F.size(F.col("__t")) - F.lit(k - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i, k)),
    )
    sh = toks.select(
        F.col(id_col),
        F.explode(
            F.when(F.size(F.col("__t")) >= k, windows).otherwise(
                F.array(F.col("__lt"))
            )
        ).alias("__shingle"),
    ).withColumn("__x", hash31(F.col("__shingle")))
    aggs = [
        F.min((F.lit(MINHASH_A[i]) * F.col("__x") + F.lit(MINHASH_B[i])) % F.lit(MERSENNE31)).alias(f"s{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_signatures_rowwise(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    shingle_k: int = 3,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Row-local minhash: identical output to :func:`minhash_signatures`
    (min over the same shingle-hash multiset) computed entirely inside
    each row with higher-order array functions — NO explode, NO
    shuffle, no aggregation state.

    Two uses:
    - **streams**: a stateless projection runs in append mode with no
      watermark (the aggregate formulation is a streaming aggregation);
      this is what `streaming/dedup_stream.py` uses to sign arriving
      documents.
    - **batch**: when the corpus row count ≫ shingle fan-out benefit,
      skipping the explode shuffle entirely can beat the aggregate
      plan; equivalence is pinned in tests, so the two are
      interchangeable per workload.

    ``keep_cols``: extra input columns to carry through unchanged
    (e.g. an event-time column a streaming consumer needs for
    watermarking) — row-local, so carrying costs nothing.
    """
    if n_hashes > len(MINHASH_A):
        raise ValueError(f"at most {len(MINHASH_A)} hash functions available")
    k = shingle_k
    toks = df.withColumn(
        "__t",
        memo(context(), ("mh_tokens", text_col), lambda: tokens(F.col(text_col))),
    ).withColumn("__lt", F.lower(F.col(text_col)))

    def build_hashed():
        windows = F.transform(
            F.sequence(F.lit(1), F.size(F.col("__t")) - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i, k)),
        )
        sh = F.when(F.size(F.col("__t")) >= k, windows).otherwise(
            F.array(F.col("__lt"))
        )
        # hash each shingle once, then n cheap linear transforms over ints
        return F.transform(sh, hash31)

    out = toks.withColumn("__hx", memo(context(), ("mh_hashed", k), build_hashed))
    def _perm(i: int):
        # one-arg lambda on purpose: F.transform treats a two-arg
        # function as (element, index)
        return lambda x: (
            F.lit(MINHASH_A[i]) * x + F.lit(MINHASH_B[i])
        ) % F.lit(MERSENNE31)

    sigs = memo(
        context(), ("mh_sigs", n_hashes),
        lambda: [
            F.array_min(F.transform(F.col("__hx"), _perm(i))).alias(f"s{i}")
            for i in range(n_hashes)
        ],
    )
    return out.select(F.col(id_col), *[F.col(c) for c in keep_cols], *sigs)


def band_key_structs(
    n_hashes: int, bands: int, field_prefix: str = "k"
) -> list[Column]:
    """The LSH band-key WIRE FORMAT: one struct per band, carrying the
    band index plus that band's signature slice as ``{prefix}0..``.

    Shared by the batch pair generator (:func:`lsh_candidate_pairs`),
    the streaming signature index, and the stream probe
    (`streaming/dedup_stream.py`) — one definition, because index and
    probe must agree bit-for-bit: a drifted copy (band order, slice
    offsets, a changed rows-per-band formula) would not error, it
    would just make every probe miss and read as "no duplicates
    found"."""
    if n_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide n_hashes ({n_hashes}): a "
            "remainder would silently drop signature components from "
            "every band key"
        )
    rows = n_hashes // bands
    return memo(
        context(), ("band_key_structs", n_hashes, bands, field_prefix),
        lambda: [
            F.struct(
                F.lit(band).alias("band"),
                *[
                    F.col(f"s{band * rows + r}").alias(f"{field_prefix}{r}")
                    for r in range(rows)
                ],
            )
            for band in range(bands)
        ],
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    *,
    id_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    bucket_cap: int = 1000,
    observation=None,
) -> DataFrame:
    """Candidate near-duplicate pairs from LSH banding over a signature
    DataFrame, with the estimated Jaccard (fraction of matching
    minhashes).  Pairs are (a < b), distinct across bands.

    Plan shape: one explode (×bands) -> one shuffle (window rank +
    groupBy band key, same partitioning so one exchange) -> in-bucket
    pair generation with higher-order array functions -> pair dedup.
    The signature input is computed exactly once, with or without an
    ``observation``: the truncation counter is a
    :class:`~wikihadoop_spark.observability.TruncationCounter` whose
    two components (total band entries below the window, kept entries
    above the truncation filter) ride THIS single linear plan — no
    second branch, no join-back, no re-evaluation of the signature
    subtree (the round-8 design counted on a separate per-bucket
    aggregate branch, which evaluated the signatures twice whenever
    the counter was on).  Neither attach point sits between the rank
    window and its filter, so the WindowGroupLimit rewrite below
    still fires (plan-pinned in tests/test_plans.py).

    ``bucket_cap`` bounds hot buckets: a mega near-duplicate cluster
    (templated boilerplate at 100 TB) would otherwise put the whole
    cluster into one collect_list row and O(k²) pairs into one task.
    Deterministic truncation — the lowest ``bucket_cap`` ids per bucket
    survive — keeps results reproducible and bounds the worst row at
    cap×sig_width bytes and the worst task at cap² pairs.  Members
    beyond the cap appear in NO pairs from that bucket (near-identical
    docs usually share several band keys, so they often still surface
    via a less-crowded band); use the ``lsh_dropped_members`` counter
    (pass a ``TruncationCounter``) to detect truncation, and raise the
    cap or add bands when it is nonzero and full cluster connectivity
    matters.
    """
    from pyspark.sql import Window

    from ..observability import TruncationCounter

    if observation is not None and not isinstance(observation, TruncationCounter):
        raise TypeError(
            "pass observability.TruncationCounter, not Observation: the "
            "dropped-member count needs two attach points (total below "
            "the window, kept above the truncation filter) to ride the "
            "single linear plan without re-evaluating the signatures"
        )
    sig_struct = memo(
        context(), ("lsh_sig_struct", id_col, n_hashes),
        lambda: F.struct(
            F.col(id_col).alias("id"), *[F.col(f"s{i}") for i in range(n_hashes)]
        ),
    )
    band_entries = sig.select(
        sig_struct.alias("m"),
        memo(
            context(), ("lsh_band_explode", n_hashes, bands),
            lambda: F.explode(F.array(*band_key_structs(n_hashes, bands))).alias(
                "bk"
            ),
        ),
    )
    if observation is not None:
        # BELOW the window: counts every band entry, before the partial
        # truncation the group-limit rewrite inserts above this node
        band_entries = observation._observe_total(
            band_entries, "lsh_dropped_members"
        )
    ranked = band_entries.withColumn(
        "__rn",
        memo(
            context(), ("lsh_rank",),
            lambda: F.row_number().over(
                Window.partitionBy("bk").orderBy(F.col("m.id"))
            ),
        ),
    )
    # the rank filter sits DIRECTLY above the window so Spark rewrites
    # it to WindowGroupLimit (partial per-map-task truncation to the
    # cap BEFORE the exchange — a mega bucket never sorts in one task).
    # The truncation counter must therefore NOT sit between them: a
    # CollectMetrics node there blocks the rewrite, silently reverting
    # the hot bucket to a single-task full sort (plan pinned in
    # tests/test_plans.py).  The counter's kept-side observe attaches
    # ABOVE the filter instead; dropped = total - kept, both on this
    # one linear plan.
    kept = ranked.filter(F.col("__rn") <= bucket_cap)
    if observation is not None:
        kept = observation._observe_kept(kept)
    buckets = (
        kept.groupBy("bk")
        .agg(
            memo(
                context(), ("lsh_members",),
                lambda: F.sort_array(F.collect_list("m")).alias("members"),
            )
        )
        .filter(F.size("members") > 1)
    )
    # all (i < j) member pairs, ids already ascending via sort_array
    pairs = buckets.select(
        memo(
            context(), ("lsh_pair_explode",),
            lambda: F.explode(
                F.flatten(
                    F.transform(
                        F.col("members"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("members"),
                                i + F.lit(2),
                                F.size(F.col("members")),
                            ),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                )
            ).alias("p"),
        )
    )

    def build_out():
        matches = sum(
            (F.col(f"p.a.s{i}") == F.col(f"p.b.s{i}")).cast("int")
            for i in range(n_hashes)
        )
        return [
            F.col("p.a.id").alias("id_a"),
            F.col("p.b.id").alias("id_b"),
            (matches.cast("double") / F.lit(float(n_hashes))).alias("est_jaccard"),
        ]

    return (
        pairs.select(*memo(context(), ("lsh_pair_out", n_hashes), build_out))
        .dropDuplicates(["id_a", "id_b"])
    )


def verify_candidate_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """Exact-Jaccard verification (rerank) of LSH candidate pairs —
    the second half of a production MinHash pipeline: banding recalls
    candidates cheaply, then the TRUE shingle-set Jaccard confirms or
    rejects each one, bounding LSH's false positives before ids feed
    cluster resolution.

    Returns the candidate pairs with ``n_inter`` / ``n_union`` (exact
    distinct-shingle overlap sizes), ``exact_jaccard`` (one IEEE
    divide of exact integers — engine-portable), and ``verified``
    (integer cross-multiplied ``2·inter >= union``, i.e. true Jaccard
    >= 0.5, no float threshold drift).

    Plan shape at 100 TB: the candidate frame is localCheckpointed
    FIRST — its lineage (an LSH banding or blocking subtree, the most
    expensive stage upstream) would otherwise re-evaluate once per
    consumer below (the two ids-union legs, the output spine, and
    through both set joins: 5×, measured in the round-8 plan dump).
    The participating ids (candidate-bound — at most 2 pairs rows)
    then broadcast into a left-semi join against the corpus scan, so
    the full corpus is never shuffled and shingle sets are
    materialized ONLY for documents that appear in some pair — and the
    (tiny, semi-join-restricted) sets frame is checkpointed too, so
    the corpus scan runs once rather than once per join leg.
    Everything after is equi-joins between candidate-sized frames.
    Cost: one candidate materialization + ONE corpus scan; scales with
    the (capped, observable) candidate set, not the corpus.

    ``materialize=False`` skips both checkpoints, exposing the full
    lazy lineage — for plan inspection (tests pin the broadcast
    semi-join shape through it) or callers that already persisted the
    candidate frame."""
    if materialize:
        pairs = pairs.localCheckpoint(eager=True)
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets = docs.join(F.broadcast(ids), id_col, "left_semi").select(
        F.col(id_col),
        F.array_distinct(shingles(F.col(text_col), shingle_k)).alias("__sh"),
    )
    if materialize:
        sets = sets.localCheckpoint(eager=True)
    a = sets.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b"))
    inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("bigint")
    union = (
        F.size("__sh_a").cast("bigint") + F.size("__sh_b").cast("bigint") - inter
    )
    carried = ["est_jaccard"] if "est_jaccard" in pairs.columns else []
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            *carried,
            inter.alias("n_inter"),
            union.alias("n_union"),
            (inter.cast("double") / union).alias("exact_jaccard"),
            (F.lit(2) * inter >= union).alias("verified"),
        )
    )


def capped_block_pairs(
    df: DataFrame,
    *,
    block_cols: list[str],
    id_col: str,
    payload_cols: list[str],
    cap: int = 1000,
    observation=None,
    counter: str = "block_dropped_members",
) -> DataFrame:
    """All (id_a < id_b) pairs within each block, with deterministic
    hot-block truncation: only the lowest ``cap`` ids per block
    participate in pair generation, so the worst block contributes at
    most cap² pairs to one task no matter how skewed the key gets at
    100 TB (same contract as ``lsh_candidate_pairs``'s bucket_cap).

    Returns ``block_cols + [id_a, id_b] + [<p>_a, <p>_b ...]``.  Pass
    a ``TruncationCounter`` to count members dropped by the cap
    (nonzero ⇒ raise the cap or choose a finer block key if full
    connectivity matters).  Plan shape: one window rank on the block
    key, then a block-key equi-join of the capped sides — never an
    uncapped self-join.
    """
    from pyspark.sql import Window

    from ..observability import TruncationCounter

    if observation is not None and not isinstance(observation, TruncationCounter):
        raise TypeError(
            "pass observability.TruncationCounter, not Observation: the "
            "dropped-member count needs two attach points (total below "
            "the window, kept above the truncation filter) to ride the "
            "existing plan without re-evaluating the input"
        )
    if observation is not None:
        # BELOW the window and below the exchange: the a/b sides both
        # contain this node, but their map-side subtrees stay identical
        # so exchange reuse evaluates it once (pinned in test_plans.py)
        df = observation._observe_total(df, counter)
    rank_col = memo(
        context(), ("block_rank", tuple(block_cols), id_col),
        lambda: F.row_number().over(
            Window.partitionBy(*block_cols).orderBy(id_col)
        ),
    )
    ranked = df.withColumn("__rn", rank_col)
    # rank filter directly above the window → WindowGroupLimit partial
    # truncation before the exchange; the drop counter never sits
    # between the two (it would block the rewrite and revert a hot
    # block to a one-task full sort).  dropped = total - kept; the
    # kept observe attaches to the SHARED kept frame, so both self-join
    # legs carry the identical named metrics node: Spark's observed
    # self-join semantics report the one (necessarily equal) value, and
    # the legs stay symmetric — an asymmetric attach blocks predicate
    # pushdown on one leg only, defeating exchange reuse and
    # re-evaluating the map side (caught by the accumulator pin in
    # tests/test_plans.py).
    kept = ranked.filter(F.col("__rn") <= cap).drop("__rn")
    if observation is not None:
        kept = observation._observe_kept(kept)
    a = kept.select(
        *block_cols,
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in payload_cols],
    )
    b = kept.select(
        *block_cols,
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in payload_cols],
    )
    return a.join(b, list(block_cols)).filter(F.col("id_a") < F.col("id_b"))


def simhash_band_pairs(
    sig: DataFrame,
    *,
    id_col: str,
    sim_col: str = "simhash",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
    bucket_cap: int = 1000,
    observation=None,
) -> DataFrame:
    """Hamming-near pairs over a simhash column via prefix-band
    blocking — the Manku/Jain/Sarma WWW'07 design: split the ``bits``-
    bit fingerprint into ``bands`` disjoint slices; a pair differing in
    at most ``max_hamming`` bits must match exactly on at least one
    slice whenever ``max_hamming < bands`` (pigeonhole), so the banded
    equi-join finds EVERY such pair — lossless below the bucket cap,
    never an all-pairs comparison.  Returns (id_a, id_b, hamming).
    """
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    if bits % bands:
        raise ValueError(f"bands must divide bits (got {bits} % {bands})")
    width = bits // bands
    mask = (1 << width) - 1
    flat = sig.select(
        F.col(id_col).alias("__id"),
        F.col(sim_col).alias("__sh"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.shiftright(F.col(sim_col), band * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("__id", "__sh", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    pairs = capped_block_pairs(
        flat,
        block_cols=["band", "key"],
        id_col="__id",
        payload_cols=["__sh"],
        cap=bucket_cap,
        observation=observation,
        counter="simhash_dropped_members",
    )
    hamming = F.bit_count(F.col("__sh_a").bitwiseXOR(F.col("__sh_b"))).cast("int")
    return (
        pairs.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def exact_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs — the compact
    ``(id_a, id_b, jaccard)`` view of :func:`verify_candidate_pairs`
    (which also emits the integer overlap sizes and the float-free
    >=0.5 verdict, and restricts the shingle-set build to the
    participating ids via a broadcast semi-join)."""
    return verify_candidate_pairs(
        docs=docs,
        pairs=pairs.select("id_a", "id_b"),
        id_col=id_col,
        text_col=text_col,
        shingle_k=shingle_k,
    ).select("id_a", "id_b", F.col("exact_jaccard").alias("jaccard"))
