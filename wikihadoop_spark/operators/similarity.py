"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k — broadcast the (small) query set,
compute cosine with built-in higher-order array functions (JVM-side,
no Python), rank with a per-query window.  One pass over the corpus,
no shuffle of the corpus itself; the window shuffles only
(query × corpus) scored rows, and WindowGroupLimit keeps per-partition
top-k before the exchange.

Scale path: LSH bucketing via random hyperplane signs (SimHash for
vectors) — corpus hashed once, queries probe matching buckets only;
implemented here as ``hyperplane_bucket`` + bucketed join.  A full IVF
(k-means coarse quantizer) needs iterative clustering; the bucketed
LSH keeps everything in one declarative plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..memo import context, memo


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold — deterministic summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# name-keyed memoized builders (round-18): a higher-order fold Column
# costs ~15-25 ms of py4j lambda registration per BUILD, and the
# similarity family re-builds the same dot/norm over the same named
# columns on every query invocation.  Same class as the round-17
# operator memoizations — unresolved immutable ASTs, identical plans.
def _norm_col(name: str) -> Column:
    return memo(context(), ("sim_norm", name), lambda: norm(F.col(name)))


def _dot_cols(a: str, b: str) -> Column:
    return memo(context(), ("sim_dot", a, b), lambda: dot(F.col(a), F.col(b)))


def _pair_sim(va: str, vb: str, na: str, nb: str) -> Column:
    return memo(
        context(), ("sim_pair", va, vb, na, nb),
        lambda: _dot_cols(va, vb) / (F.col(na) * F.col(nb)),
    )


def _rank_window(part: str, order_desc: str, tiebreak: str):
    return memo(
        context(), ("sim_rank", part, order_desc, tiebreak),
        lambda: F.row_number().over(
            Window.partitionBy(part).orderBy(
                F.col(order_desc).desc(), F.col(tiebreak)
            )
        ),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    include_self: bool = False,
) -> DataFrame:
    """Top-k corpus neighbors per query vector by cosine similarity.

    Returns (query_id, neighbor_id, cosine_sim, rank).  Ties broken by
    neighbor id for determinism.

    Exact baseline: scores every (query, corpus) pair — O(Q·N·D).
    Right below ~1e9 scored pairs with a broadcastable query side;
    past that switch to ``cosine_topk_lsh`` or ``cosine_topk_ivf``
    (sized crossover table in SCALING.md).
    """
    # norms are per-ROW quantities: compute each side's norm once
    # before the pair join instead of once per scored pair (round-17 —
    # same expression over the same array, hence bit-identical values;
    # 3 dot folds per pair become 1)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qvec"),
    ).withColumn("__qnorm", _norm_col("__qvec"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cvec"),
    ).withColumn("__cnorm", _norm_col("__cvec"))
    scored = c.join(F.broadcast(q), how="cross")
    if not include_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = scored.withColumn(
        "cosine_sim", _pair_sim("__qvec", "__cvec", "__qnorm", "__cnorm")
    )
    return (
        scored.withColumn(
            "rank", _rank_window("query_id", "cosine_sim", "neighbor_id")
        )
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: sign bit per plane packed into an
    int.  Vectors with small angle land in the same bucket with high
    probability; used to prune the candidate set before exact cosine.

    The built Column is memoized per (planes, vec expression): the
    plane literals alone are |planes|×d py4j calls (~0.2 s per build
    for 8×64), pure driver latency re-paid on every query build
    (see :mod:`wikihadoop_spark.memo`)."""
    def build() -> Column:
        bucket = F.lit(0)
        for i, p in enumerate(planes):
            plane = F.array(*[F.lit(float(x)) for x in p])
            bit = (dot(vec, plane) >= 0).cast("int")
            bucket = bucket + bit * F.lit(2**i)
        return bucket

    key = ("hyperplane_bucket", tuple(map(tuple, planes)), str(vec))
    return memo(context(), key, build)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_dp: int | None = None,
) -> DataFrame:
    """Approximate top-k: probe only the query's hyperplane bucket.

    Trades recall for a corpus-partitionable equi-join on bucket id —
    the 100 TB-scale path (bucket the corpus once, broadcast bucketed
    queries).  ``round_dp`` rounds the similarity before ranking so
    two engines computing the same formula rank the same values in
    practice (a similarity within an ulp of a rounding boundary could
    still split — the driver's hash gate is the proof on real data)."""
    # per-row norms hoisted out of the pair score (round-17) — same
    # expression over the same array, bit-identical values
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("__cvec"),
        )
        .withColumn("__bucket", hyperplane_bucket(F.col("__cvec"), planes))
        .withColumn("__cnorm", _norm_col("__cvec"))
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("__qvec"),
        )
        .withColumn("__bucket", hyperplane_bucket(F.col("__qvec"), planes))
        .withColumn("__qnorm", _norm_col("__qvec"))
    )
    sim = _pair_sim("__qvec", "__cvec", "__qnorm", "__cnorm")
    if round_dp is not None:
        sim = memo(
            context(), ("sim_pair_round", "__qvec", "__cvec", "__qnorm", "__cnorm",
             round_dp),
            lambda: F.round(sim, round_dp),
        )
    scored = (
        c.join(F.broadcast(q), on="__bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine_sim", sim)
    )
    return (
        scored.withColumn(
            "rank", _rank_window("query_id", "cosine_sim", "neighbor_id")
        )
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def multiprobe_pairs(
    corpus: DataFrame,
    plane_families: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    cap: int = 1000,
    round_dp: int = 9,
) -> DataFrame:
    """Same-bucket cosine pairs UNIONED over several independent
    hyperplane families — the recall knob for embedding near-dup
    (SemDeDup) blocking: a close pair split by one family's
    hyperplane co-buckets under another with independent probability,
    so recall approaches 1 geometrically in the family count while
    cost grows only linearly (one bucketed, capped pair pass per
    family — never all-pairs).  Pairs found by several families
    deduplicate exactly on (id_a, id_b); the cosine is a pure function
    of the vectors, so the kept row is identical whichever family
    found it.  Returns (id_a, id_b, cosine_sim).
    """
    if not plane_families:
        raise ValueError("multiprobe_pairs: need at least one plane family")
    from .dedup import capped_block_pairs

    # per-row norm hoisted out of the pair score and carried as a
    # payload column (round-17) — bit-identical values, one dot fold
    # per pair instead of three
    v = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    ).withColumn("__n", _norm_col("e"))
    per_family = []
    for planes in plane_families:
        b = v.withColumn("bkt", hyperplane_bucket(F.col("e"), planes))
        pairs = capped_block_pairs(
            b, block_cols=["bkt"], id_col="vec_id", payload_cols=["e", "__n"],
            cap=cap,
        )
        sim = memo(
            context(), ("sim_pair_round", "e_a", "e_b", "__n_a", "__n_b", round_dp),
            lambda: F.round(
                _pair_sim("e_a", "e_b", "__n_a", "__n_b"), round_dp
            ),
        )
        per_family.append(
            pairs.select("id_a", "id_b", sim.alias("cosine_sim")).filter(
                F.col("cosine_sim") >= threshold
            )
        )
    out = per_family[0]
    for p in per_family[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["id_a", "id_b"])


def ivf_build(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iterations: int = 3,
    round_dp: int | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: k-means centroids via Lloyd iterations
    expressed as DataFrame plans (assignment = broadcast-centroid
    argmin; update = per-dimension mean), then the corpus tagged with
    its nearest-centroid cluster id.

    The centroid table is K×D floats — driver-side between iterations
    by design (it is broadcast state, not data).  Returns (tagged
    corpus, centroids).  Deterministic: seeds are the first k vectors
    by id; a corpus with fewer than ``k`` vectors clamps k to the
    corpus size (an empty corpus raises).  ``round_dp`` rounds each
    centroid mean so another engine computing the same means in a
    different summation order lands on the same value in practice —
    rounding narrows the parity gap to means sitting within an ulp of
    a rounding boundary (where engines could still diverge); the
    driver's hash gate is what PROVES equality on the actual data, the
    rounding is what makes that achievable.
    """
    c = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    seeds = c.orderBy("__id").limit(k).collect()
    if not seeds:
        raise ValueError("ivf_build: empty corpus (no vectors to seed from)")
    k = min(k, len(seeds))  # fewer vectors than requested clusters
    centroids = [list(r["__v"]) for r in seeds]

    mean = F.avg("__x")
    if round_dp is not None:
        mean = F.round(mean, round_dp)
    for _ in range(iterations):
        assigned = _assign(c, centroids)
        dim = len(centroids[0])
        new_rows = (
            assigned.select(
                "__cluster", F.posexplode("__v").alias("__d", "__x")
            )
            .groupBy("__cluster", "__d")
            .agg(mean.alias("__m"))
            .collect()
        )
        upd: dict[int, list[float]] = {}
        for r in new_rows:
            upd.setdefault(r["__cluster"], [0.0] * dim)[r["__d"]] = r["__m"]
        centroids = [upd.get(i, centroids[i]) for i in range(k)]

    tagged = _assign(c, centroids).select(
        F.col("__id").alias(id_col),
        F.col("__v").alias(vec_col),
        F.col("__cluster").alias("cluster"),
    )
    return tagged, centroids


def _assign(c: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Nearest centroid by squared L2, as one vectorized expression.

    The K×D centroid-literal expression is memoized per centroid VALUES
    (round-18): the Lloyd iteration sequence is deterministic for a
    given corpus, so repeat invocations rebuild identical expressions —
    only the Column construction caches, every assignment job still
    executes against the data."""

    def _build() -> Column:
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        F.col("__v"),
                        F.array(*[F.lit(float(x)) for x in cen]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for cen in centroids
            ]
        )
        return F.array_position(dists, F.array_min(dists)).cast("int") - 1

    return c.withColumn(
        "__cluster",
        memo(context(), ("ivf_assign", tuple(map(tuple, centroids)), "__v"), _build),
    )


def cosine_topk_ivf(
    tagged_corpus: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    round_dp: int | None = None,
) -> DataFrame:
    """ANN search against an IVF-tagged corpus: each query probes its
    ``nprobe`` nearest clusters only — an equi-join on cluster id that
    scans ~nprobe/K of the corpus instead of all of it."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )

    # the K×D centroid-literal distance array is the expensive build
    # (K·D F.lit py4j calls) and the centroid list is deterministic per
    # corpus — memoize the probe expression per (centroids, nprobe)
    # exactly like hyperplane_bucket (round-18)
    def _build_probe() -> Column:
        dists = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        F.col("__qv"),
                        F.array(*[F.lit(float(x)) for x in cen]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for cen in centroids
            ]
        )
        idx = F.array_sort(
            F.zip_with(dists, F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                       lambda d, i: F.struct(d.alias("d"), i.alias("i")))
        )
        return F.explode(
            F.transform(F.slice(idx, 1, nprobe), lambda s: s["i"])
        )

    probe = memo(
        context(), ("ivf_probe", tuple(map(tuple, centroids)), nprobe, "__qv"),
        _build_probe,
    )
    q = q.withColumn("cluster", probe).withColumn("__qn", _norm_col("__qv"))
    c = tagged_corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
        "cluster",
    ).withColumn("__cn", _norm_col("__cv"))
    # per-row norms hoisted out of the pair score (round-17): same
    # expression over the same array — bit-identical values
    sim = _pair_sim("__qv", "__cv", "__qn", "__cn")
    if round_dp is not None:
        sim = memo(
            context(), ("sim_pair_round", "__qv", "__cv", "__qn", "__cn", round_dp),
            lambda: F.round(sim, round_dp),
        )
    scored = (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine_sim", sim)
    )
    return (
        scored.withColumn(
            "rank", _rank_window("query_id", "cosine_sim", "neighbor_id")
        )
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )
    # no pair dedup needed: _assign gives each corpus row exactly ONE
    # cluster and a query's probed cluster ids are distinct (slice of
    # a sorted sequence), so (query_id, neighbor_id) is already unique
    # — a post-rank dropDuplicates would only add a shuffle, and if
    # duplicates ever could occur it would nondeterministically punch
    # gaps in the rank column (the dedup must happen BEFORE ranking)
