"""Similarity search over embedding columns (array<float>).

Additive capability (no reference analog; closest kin is the contrib
Lucene index build, contrib/index/.../mapred/IndexUpdateMapper.java,
which routes documents to shards — the IVF layout below is the same
route-then-search-one-shard idea for vectors).

Two paths:
- brute_force_topk: exact cosine top-k — broadcast the (small) query
  set, one pass over the corpus, per-query heap via window rank.
  At 100 TB the corpus scan is embarrassingly parallel and the only
  shuffle is on query_id for the final top-k.
- ivf_topk: IVF-style — assign every vector to its nearest centroid
  (route), probe only the `nprobe` nearest centroid buckets per query.
  Scan cost drops by ~n_centroids/nprobe. Centroids are caller-provided
  (deterministic; k-means fitting is orthogonal and pluggable).

All dot products run as Catalyst higher-order functions (zip_with +
aggregate) over array<double> — JVM-side, no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import tracked_persist


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right dot product (deterministic summation
    order — bit-comparable with the DuckDB oracle)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_sq(a: Column) -> Column:
    return dot(a, a)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.sqrt(norm_sq(a) * norm_sq(b))


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of `corpus` for every row of `queries`.

    Output: (query_id, vec_id, score, rk). Scores rounded to 6dp
    BEFORE ranking so ranking is reproducible across engines; ties
    break on vec_id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("cv"))
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col(id_col)).select(
        "query_id",
        id_col,
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def assign_to_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
) -> DataFrame:
    """Route each vector to its nearest centroid (max cosine; ties →
    lowest centroid id). Broadcast the centroids — one corpus pass.

    The argmax is a map-side-partial max_by aggregation, not a window:
    after the broadcast join every candidate row of a vector sits in
    the SAME task, so the partial agg resolves the winner locally and
    the exchange moves ONE row per vector — a window would shuffle
    the full embedding payload once per centroid (K× the bytes) and
    sort it (guide §2.3: shuffle keys/metadata, not payloads). Tie
    order identical: min on (-cscore, centroid_id) = highest cosine,
    lowest centroid id — only cscore (always double) is negated, so
    centroid ids of ANY orderable type keep the window form's
    tie-break (negating the id itself would raise CAST_INVALID_INPUT
    under ANSI for string ids). A NULL cscore (a zero-norm vector with
    ANSI off) would sort first in that struct and win, so it takes no
    part in the argmax; a vector with no non-NULL score gets a NULL
    centroid."""
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("cv"))
    cen = centroids.select(
        F.col(centroid_id), _as_double(F.col(vec_col)).alias("zv")
    )
    scored = c.join(F.broadcast(cen)).select(
        id_col,
        "cv",
        centroid_id,
        F.round(cosine(F.col("cv"), F.col("zv")), 6).alias("cscore"),
    )
    return scored.groupBy(id_col).agg(
        F.first("cv").alias("cv"),
        F.min_by(
            F.col(centroid_id),
            F.when(
                F.col("cscore").isNotNull(),
                F.struct((-F.col("cscore")).alias("_neg"), F.col(centroid_id)),
            ),
        ).alias(centroid_id),
    ).select(id_col, "cv", centroid_id)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search: probe only the nprobe nearest centroid buckets.

    Approximate (recall < 1 when the true neighbor lives in an
    unprobed bucket) but deterministic given fixed centroids.
    """
    assigned = assign_to_centroids(corpus, centroids, id_col, vec_col)
    return _probe_assigned(assigned, queries, centroids, id_col, vec_col, k, nprobe)


def build_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    table_name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_buckets: int = 16,
) -> None:
    """Persist centroid assignments as a table bucketed by centroid_id.

    The routing pass (one window over the whole corpus) is the
    expensive half of every IVF query; at 100 TB it is a full scan +
    per-vector rank. Paying it ONCE at index-build time and serving
    repeated ANN queries from the bucketed layout is the same
    amortization as the reference's MapFile: sorted layout written
    once, point-ish lookups forever after (io/MapFile.java). Bucketing
    by centroid_id additionally clusters each inverted list into a
    fixed set of files, so a future non-broadcast probe join needs no
    shuffle on the corpus side.
    """
    from . import skew

    assigned = assign_to_centroids(corpus, centroids, id_col, vec_col)
    skew.write_bucketed(
        assigned, table_name, ["centroid_id"], num_buckets=num_buckets
    )
    # a (re)build starts a NEW index generation: tombstones written
    # against the previous generation must not suppress the new corpus
    from . import tombstones

    tombstones.drop(corpus.sparkSession, table_name)


def extend_ivf_index(
    spark,
    new_vectors: DataFrame,
    centroids: DataFrame,
    table_name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_buckets: int = 16,
) -> None:
    """Day-2 growth of a served ANN index — the similarity twin of
    dedup.extend_band_index_bucketed: route the arriving vectors to
    the SAME frozen centroids (broadcast, one batch-sized pass), drop
    ids already indexed (idempotent re-ingest), and APPEND bucketed by
    centroid_id (skew.append_bucketed — spec-validated, layout stays
    live, one file per touched inverted list). ivf_topk_indexed then
    serves the union with no rebuild: an index over 100 TB of
    embeddings grows by batch-sized appends, and the routing window
    only ever runs over each day's arrivals, never the corpus.

    Centroids stay FROZEN — the standing IVF trade (FAISS `add` does
    the same): drift in the vector distribution degrades recall
    gradually and is repaired by a scheduled re-fit + re-freeze, not
    on the ingest path. Compact per compact_bucketed when per-bucket
    file counts grow."""
    from . import skew

    assigned = assign_to_centroids(new_vectors, centroids, id_col, vec_col)
    # distinct() collapses exact duplicate rows WITHIN the batch
    # (overlapping input files re-deliver the same vector) — without
    # it the anti-join passes both copies and the served top-k wastes
    # slots on twins. Same-id-DIFFERENT-vector rows are conflicting
    # input the caller must resolve upstream (the id is the identity).
    fresh = assigned.distinct().join(
        spark.table(table_name).select(id_col), id_col, "left_anti"
    )
    skew.append_bucketed(
        fresh, table_name, ["centroid_id"], num_buckets=num_buckets
    )
    # a re-added id that was RETRACTED resurrects: its physical row
    # never left (the anti-join above skips re-appending it), so only
    # the tombstone clears — retraction-sized work, same policy as
    # dedup.extend_band_index_attributed
    from . import tombstones

    tombstones.clear_for(spark, table_name, new_vectors, id_col)


def retract_from_ivf_index(
    spark,
    table_name: str,
    retract_ids: DataFrame,
    id_col: str = "vec_id",
) -> None:
    """Retract vectors from a served IVF index — the vector-store
    erasure leg (GDPR/takedown): after this call ivf_topk_indexed
    stops returning the ids and incremental/streaming semantic dedup
    stops gating arrivals on them, both on the very next query/batch.

    Same tombstone mechanics as the text band index
    (dedup.retract_from_band_index): ids land in a retraction-sized
    side table, every probe subtracts them as a broadcast anti-join
    (no Exchange added on the bucketed inverted-list scan), and
    compact_ivf_index folds them into the base off the serving path.
    No attribution prerequisite here — inverted-list rows carry their
    vector id by construction. Re-adding a retracted id via
    extend_ivf_index resurrects it (the index records what the corpus
    holds, not policy)."""
    from . import tombstones

    tombstones.add(spark, table_name, retract_ids, id_col)


def live_ivf_index(spark, table_name: str, id_col: str = "vec_id") -> DataFrame:
    """The served inverted lists minus tombstones — what every ANN /
    semantic-dedup probe must see. Pass THIS (not spark.table) as the
    frozen side of incremental_semantic_dedup / the streaming gates
    when retraction is in play; ivf_topk_indexed reads it already."""
    from . import tombstones

    return tombstones.live(spark, table_name, id_col)


def compact_ivf_index(
    spark, table_name: str, id_col: str = "vec_id"
) -> None:
    """Fold IVF tombstones into the inverted lists: one staged bucketed
    rewrite of the live rows, then the tombstone table drops. Schedule
    off the serving path (same quiescence note as
    skew.compact_bucketed); probes see identical results before and
    after."""
    from . import tombstones

    tombstones.compact(spark, table_name, id_col)


def ivf_index_health(
    spark,
    table_name: str,
    id_col: str = "vec_id",
    compact_threshold: float = 0.2,
) -> DataFrame:
    """One-row health census of a served IVF index — the MONITOR leg
    (tombstones.health keyed on centroid_id): dead vs live rows,
    tombstone size, live cell count and the hottest live cell
    (max_key_docs here is serving skew — the cell every nprobe route
    pays for), and the compact-cadence recommendation. No attribution
    prerequisite: inverted-list rows carry their vector id by
    construction."""
    from . import tombstones

    return tombstones.health(
        spark, table_name, id_col, ["centroid_id"],
        compact_threshold=compact_threshold,
    )


def ivf_topk_indexed(
    spark,
    table_name: str,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """ivf_topk served from a prebuilt `build_ivf_index` table — skips
    the routing scan; result is identical to ivf_topk over the same
    corpus+centroids (pinned by test). Honors retraction: tombstoned
    ids (retract_from_ivf_index) never reach the candidate set."""
    assigned = live_ivf_index(spark, table_name, id_col)
    return _probe_assigned(assigned, queries, centroids, id_col, vec_col, k, nprobe)


def _probe_assigned(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
) -> DataFrame:
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    cen = centroids.select(F.col("centroid_id"), _as_double(F.col(vec_col)).alias("zv"))
    qprobe = q.join(F.broadcast(cen)).select(
        "query_id",
        "qv",
        "centroid_id",
        F.round(cosine(F.col("qv"), F.col("zv")), 6).alias("cscore"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cscore"), F.asc("centroid_id"))
    probes = (
        qprobe.withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= nprobe)
        .select("query_id", "qv", "centroid_id")
    )
    # bucket-pruned scan: equi-join on centroid_id
    cand = assigned.join(F.broadcast(probes), "centroid_id").filter(
        F.col("query_id") != F.col(id_col)
    )
    scored = cand.select(
        "query_id", id_col, F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def kmeans_fit(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 3,
) -> DataFrame:
    """Lloyd's k-means in pure DataFrame ops — learned centroids for
    ivf_topk (the 'iterative algorithm' shape: a driver-side loop over
    declarative assign+recenter jobs, each one broadcast-join + one
    groupBy shuffle; nothing iterative runs per-row in Python).

    Deterministic: init = the k lowest-id vectors; cosine assignment
    with lowest-centroid-id tie break. Returns (centroid_id, embedding).
    Empty clusters keep their previous centroid."""
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("cv"))
    # init = k lowest-id vectors via orderBy+limit (TakeOrderedAndProject:
    # per-partition top-k heaps, merged on the driver) — NOT a global
    # row_number window, which would funnel the whole corpus through one
    # task. k rows are driver-side metadata; numbering them here is free.
    seeds = c.orderBy(F.asc(id_col)).limit(k).select(id_col, "cv").collect()
    seeds.sort(key=lambda r: r[0])
    centroids = corpus.sparkSession.createDataFrame(
        [(i, list(r["cv"])) for i, r in enumerate(seeds)],
        schema="centroid_id INT, zv ARRAY<DOUBLE>",
    )
    for _ in range(iterations):
        assigned = (
            c.join(F.broadcast(centroids))
            .select(
                id_col,
                "cv",
                "centroid_id",
                F.round(cosine(F.col("cv"), F.col("zv")), 6).alias("cscore"),
            )
        )
        wa = Window.partitionBy(id_col).orderBy(F.desc("cscore"), F.asc("centroid_id"))
        best = (
            assigned.withColumn("_rk", F.row_number().over(wa))
            .filter(F.col("_rk") == 1)
            .select("centroid_id", "cv")
        )
        # recenter: element-wise mean via posexplode + groupBy — scales
        # with vectors × dim, no per-group array collection
        means = (
            best.select("centroid_id", F.posexplode("cv").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "centroid_id",
                F.transform("pm", lambda s: s.m).alias("zv_new"),
            )
        )
        centroids = (
            centroids.join(means, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce("zv_new", "zv").alias("zv"),
            )
        )
        centroids = tracked_persist(centroids)  # materialize per iteration: cut lineage growth
    return centroids.select("centroid_id", F.col("zv").alias("embedding"))


# --------------------------------------------------------------- IVF-PQ
#
# Product quantization: split each D-dim vector into M subvectors of
# D/M dims; quantize each subvector to one of K codewords from a
# per-subspace codebook; a vector is then M small integers (M bytes at
# K<=256) instead of 4·D float bytes — the memory-bound regime's path
# at 100 TB embedding scale (a 64-dim float corpus shrinks 64×). Search
# is ASYMMETRIC: the query stays exact, each candidate's dot product is
# approximated by Σ_m dot(q_m, codeword_m) — one table lookup per
# subspace, never a full-vector multiply against raw floats.


def l2_sq_to_code(sub: Column, zv: Column) -> Column:
    """Ranking distance of a subvector to a codeword: ||z||² − 2·q·z
    (the ||sub||² term is constant within a (vector, subspace) rank
    partition, so dropping it changes no assignment; what remains is
    cheap and — rounded to 6dp — bit-identical in the SQL oracle)."""
    return F.round(norm_sq(zv) - 2 * dot(sub, zv), 6)


def subvector(vec: Column, m: int, sub_dim: int) -> Column:
    """m-th PQ subvector (1-based slice, matching SQL list slicing)."""
    return F.slice(vec, m * sub_dim + 1, sub_dim)


def make_pq_codebooks(
    seeds: DataFrame,
    num_subspaces: int,
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic codebooks from seed vectors: codeword c of
    subspace m = the m-th subvector of seed c. Returns
    (m, code_id, zv). The fixed-seed form keeps the whole IVF-PQ
    pipeline reproducible in any engine (the oracle's requirement);
    `pq_fit` learns per-subspace k-means codebooks for deployments
    where recall matters more than cross-engine replay."""
    subs = [
        F.struct(
            F.lit(m).alias("m"),
            subvector(F.col("zv"), m, sub_dim).alias("zv"),
        )
        for m in range(num_subspaces)
    ]
    return (
        seeds.select(
            F.col(id_col).alias("code_id"),
            _as_double(F.col(vec_col)).alias("zv"),
        )
        .select("code_id", F.explode(F.array(*subs)).alias("s"))
        .select(F.col("s.m").alias("m"), "code_id", F.col("s.zv").alias("zv"))
    )


def pq_fit(
    corpus: DataFrame,
    num_subspaces: int,
    sub_dim: int,
    n_codes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 3,
) -> DataFrame:
    """Learned codebooks: per-subspace k-means over the corpus's
    subvectors (reuses kmeans_fit — M independent driver-looped Lloyd
    runs, each broadcast-join + groupBy jobs). Returns (m, code_id, zv)
    like make_pq_codebooks."""
    out = None
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("cv"))
    for m in range(num_subspaces):
        sub = c.select(
            id_col, subvector(F.col("cv"), m, sub_dim).alias("embedding")
        )
        cb = kmeans_fit(
            sub, n_codes, id_col=id_col, iterations=iterations
        ).select(
            F.lit(m).alias("m"),
            F.col("centroid_id").alias("code_id"),
            F.col("embedding").alias("zv"),
        )
        out = cb if out is None else out.unionByName(cb)
    return out


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    num_subspaces: int,
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize: (vec_id, m, code_id) — nearest codeword per subspace
    (min ranking distance, ties → lowest code_id). One broadcast of
    the codebooks (M·K rows), one corpus pass; the output is the
    index-time artifact a deployment persists (M·|corpus| tiny rows
    vs the raw float matrix)."""
    subs = [
        F.struct(
            F.lit(m).alias("m"),
            subvector(F.col("cv"), m, sub_dim).alias("sub"),
        )
        for m in range(num_subspaces)
    ]
    long = corpus.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("cv")
    ).select(
        id_col, F.explode(F.array(*subs)).alias("s")
    ).select(id_col, F.col("s.m").alias("m"), F.col("s.sub").alias("sub"))
    cb = codebooks.select("m", "code_id", "zv")
    scored = long.join(F.broadcast(cb), "m").select(
        id_col,
        "m",
        "code_id",
        l2_sq_to_code(F.col("sub"), F.col("zv")).alias("qd"),
    )
    w = Window.partitionBy(id_col, "m").orderBy(
        F.asc("qd"), F.asc("code_id")
    )
    return (
        scored.withColumn("qrk", F.row_number().over(w))
        .filter(F.col("qrk") == 1)
        .select(id_col, "m", "code_id")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    num_subspaces: int,
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF routing + PQ asymmetric scoring: probe the nprobe nearest
    centroid buckets, then score ONLY the candidates' PQ codes against
    the query's per-subspace distance table — approx cosine =
    Σ_m dot(q_m, codeword) / (‖q‖ · sqrt(Σ_m ‖codeword‖²)).

    Scale shape: the corpus contributes (a) the routing pass and
    (b) M-row code tuples per candidate; raw vectors never reach the
    scoring join. The distance table is |queries|·M·K rows — driver-
    broadcast metadata, like the centroids."""
    assigned = assign_to_centroids(corpus, centroids, id_col, vec_col)
    codes = pq_encode(corpus, codebooks, num_subspaces, sub_dim, id_col, vec_col)

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    cen = centroids.select(
        F.col("centroid_id"), _as_double(F.col(vec_col)).alias("zv")
    )
    qprobe = q.join(F.broadcast(cen)).select(
        "query_id",
        "qv",
        "centroid_id",
        F.round(cosine(F.col("qv"), F.col("zv")), 6).alias("cscore"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cscore"), F.asc("centroid_id")
    )
    probes = (
        qprobe.withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= nprobe)
        .select("query_id", "centroid_id")
    )
    cand = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("query_id") != F.col(id_col))
        .select("query_id", id_col)
    )

    # per-query distance table: dot + codeword norm per (m, code)
    subs = [
        F.struct(
            F.lit(m).alias("m"),
            subvector(F.col("qv"), m, sub_dim).alias("sub"),
        )
        for m in range(num_subspaces)
    ]
    qlong = q.select(
        "query_id",
        F.sqrt(norm_sq(F.col("qv"))).alias("qn"),
        F.explode(F.array(*subs)).alias("s"),
    ).select("query_id", "qn", F.col("s.m").alias("m"), F.col("s.sub").alias("sub"))
    dt = qlong.join(F.broadcast(codebooks.select("m", "code_id", "zv")), "m").select(
        "query_id",
        "qn",
        "m",
        "code_id",
        dot(F.col("sub"), F.col("zv")).alias("pdot"),
        norm_sq(F.col("zv")).alias("pnorm"),
    )

    scored = (
        cand.join(codes, id_col)
        .join(F.broadcast(dt), ["query_id", "m", "code_id"])
        .groupBy("query_id", id_col)
        .agg(
            F.round(
                F.sum("pdot")
                / (F.max("qn") * F.sqrt(F.sum("pnorm"))),
                6,
            ).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def lsh_hyperplanes(dim: int, num_planes: int) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from md5 hex-digit parity — plain
    integer constants, so any engine (and the DuckDB oracle) projects
    bit-identically."""
    import hashlib

    planes = []
    for p in range(num_planes):
        h = ""
        i = 0
        while len(h) < dim:
            h += hashlib.md5(f"{p}:{i}".encode()).hexdigest()
            i += 1
        planes.append([1 if int(ch, 16) % 2 == 0 else -1 for ch in h[:dim]])
    return planes


def jl_project(
    df: DataFrame,
    vec_col: str,
    dim: int,
    k: int = 8,
    out_col: str = "jl",
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a
    deterministic ±1 (Achlioptas-style) projection: y_j =
    (Σ_i s_ij·x_i)/√k, signs from the same md5-parity generator as the
    LSH hyperplanes so any engine reproduces the matrix bit-for-bit.
    The pre-reduction step ANN/semantic-dedup tiers run when the raw
    dimension makes the scoring join memory-bound (JL lemma: pairwise
    distances preserved within (1±ε) for k = O(ln n / ε²)).

    Plan: pure column arithmetic, one projection per output component,
    all inside whole-stage codegen — scan-local, zero shuffle; at
    100 TB this pipelines into whatever consumes the reduced vectors.
    Elements are cast to double BEFORE accumulation (float addition
    would round differently per engine), and the left-to-right
    accumulation order is part of the operator contract (the oracle
    replays the identical expression tree).

    The dim×k-term tree is built as ONE SQL string handed to F.expr,
    not nested Column operators: a round-6 probe at sf0.1 timed the
    Column-by-Column build at ~2.4 s of py4j round-trips (vs 0.03 s
    Catalyst analysis and 0.3 s steady-state execution — construction
    DOMINATED the bench row), while the expr-string build is ~0.15 s
    and value-identical. For much larger dim·k, mapInArrow is the
    escape hatch (constant build cost, pays Arrow transfer); at 64×8
    the codegen path wins."""
    import math

    planes = lsh_hyperplanes(dim, k)
    scale = repr(1.0 / math.sqrt(k))
    comps = []
    for plane in planes:
        # vec[i] is 0-based in Spark SQL (element_at is the 1-based
        # form); both cast each element to double before accumulating
        terms = "".join(
            (" + " if s > 0 else " - ") + f"CAST({vec_col}[{i}] AS DOUBLE)"
            for i, s in enumerate(plane)
        )
        terms = terms[3:] if terms.startswith(" + ") else "-" + terms[3:]
        comps.append(f"round(({terms}) * {scale}, 6)")
    return df.withColumn(out_col, F.expr("array(" + ",".join(comps) + ")"))


def int8_quantize(
    df: DataFrame,
    vec_col: str,
    out_vec: str = "qvec",
    out_scale: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    q_i = round(x_i·127/max|x|) as a byte array — the 4× shuffle/
    storage shrink ANN tiers apply before moving embeddings (the same
    memory-bound motivation as PQ, but exactly invertible to within
    half a quantization step and with trivial dequantized dot
    products: x·y ≈ qscale_x·qscale_y·(qx·qy)).

    Scan-local column arithmetic, zero shuffle. Elements are cast to
    double BEFORE the multiply/divide (float arithmetic rounds
    differently per engine) and the expression tree is part of the
    contract — the oracle replays it for bit-identical doubles going
    into round(). Zero vectors (max|x| = 0) are dropped (documented
    convention; quantizing them is meaningless and the scale would
    divide by zero)."""
    absx = F.transform(
        F.col(vec_col), lambda x: F.abs(x.cast("double"))
    )
    m = F.array_max(absx)
    out = df.withColumn("_mx", m).filter(F.col("_mx") > 0)
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * 127.0 / F.col("_mx")).cast(
            "byte"
        ),
    )
    return (
        out.withColumn(out_scale, F.col("_mx") / F.lit(127.0))
        .withColumn(out_vec, q)
        .drop("_mx")
    )


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Asymmetric quantized retrieval: the corpus side is int8-
    quantized (4× smaller to shuffle/broadcast/cache — the reason the
    tier exists), queries stay full precision, and the score is the
    COSINE against the quantized codes — the per-vector qscale cancels
    in cosine, so ranking needs only the byte array. Scoring cosine
    (not raw dot) keeps the metric identical to brute_force_topk's,
    so the same output contract ((query_id, vec_id, score, rk),
    6dp-rounded before ranking, vec_id tiebreak) makes the two
    genuinely drop-in interchangeable and recall attributable to
    quantization alone, not a metric change.

    Zero-vector corpus rows (max|x| = 0) are EXCLUDED from the index —
    int8_quantize drops them (its documented convention) — so this
    tier can return fewer candidates than brute_force_topk over the
    same corpus. That is the intended contract: a zero vector has no
    direction, its cosine against any query is undefined (brute force
    scores it null-ish/0 and it never wins a top-k slot anyway), and
    emitting it with a fake zero code would only pad the index
    (ADVICE-r5 documentation ask)."""
    qz = int8_quantize(corpus.select(id_col, vec_col), vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    c = qz.select(
        id_col,
        F.transform(F.col("qvec"), lambda x: x.cast("double")).alias("cv"),
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col(id_col)).select(
        "query_id",
        id_col,
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def ivf_int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF over int8-quantized inverted lists — the memory-bound AND
    selective tier: bucket pruning cuts the scanned fraction to
    nprobe/num_centroids (the IVF win) while the lists themselves
    store byte codes, 4× smaller to cache/shuffle (the int8 win).
    Scoring is cosine against the codes — the per-vector scale cancels
    — so the metric matches every other ANN tier and recall
    decomposes cleanly: loss vs brute force = bucket-miss (IVF)
    + quantization (int8), each measurable against the intermediate
    tiers. Composition: quantize the assigned relation, then the
    standard bucket-pruned probe join scores the code arrays
    directly.

    As with int8_topk, zero-vector corpus rows are excluded from the
    quantized lists (int8_quantize's documented drop), so candidate
    counts can run below brute_force_topk's over the same corpus —
    intended, since a direction-less vector can never win a cosine
    top-k slot (ADVICE-r5 documentation ask)."""
    assigned = assign_to_centroids(corpus, centroids, id_col, vec_col)
    codes = int8_quantize(assigned, "cv").select(
        F.col(id_col),
        "centroid_id",
        F.transform(F.col("qvec"), lambda x: x.cast("double")).alias("cv"),
    )
    return _probe_assigned(
        codes, queries, centroids, id_col, vec_col, k, nprobe
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 8,
    cache: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH bucketing.

    Bucket = sign bits of projections onto `num_planes` deterministic
    ±1 hyperplanes (md5-parity constants baked into the plan). Pairs
    sharing a bucket are verified exactly. A near-dup pair collides
    when all sign bits agree; planes are cheap Σ±x_i projections.

    The bucketed table is persisted before the self-join so the
    projection pass over the corpus runs once, not once per side.
    """
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("cv"))
    bits = []
    for plane in lsh_hyperplanes(dim, num_planes):
        hp = F.array(*[F.lit(float(v)) for v in plane])
        proj = dot(F.col("cv"), hp)
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    bucketed = c.select(id_col, "cv", F.concat(*bits).alias("bucket"))
    if cache:
        bucketed = tracked_persist(bucketed)  # eager — both self-join sides race otherwise
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cand = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    return cand.select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.round(cosine(F.col("a.cv"), F.col("b.cv")), 6).alias("score"),
    ).filter(F.col("score") >= threshold)


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): route every embedding to its nearest centroid,
    compute pairwise cosine ONLY within each centroid bucket, and drop
    any vector that has a lower-id neighbor at cosine >= threshold.

    Returns (id, centroid_id, kept, dup_of): dup_of = the LOWEST such
    neighbor id (NULL for keepers). The keep rule is "no smaller id
    within tau", not greedy-chain removal — deterministic, order-free,
    and engine-portable; a chain a~b~c with cos(a,c) < tau drops BOTH
    b and c (conservative toward removal), the same contract as
    near_dedup's pair-min rule.

    Scale: the quadratic kernel runs per bucket (equi-join on
    centroid_id), never corpus-wide — K centroids cut pairwise work by
    ~K; cross-bucket near-dups are missed, the standard SemDeDup
    approximation (raise K and nprobe-style multi-assign if recall
    matters more than cost). The assignment is persisted before the
    self-join; without it both sides re-run the routing window."""
    assigned = tracked_persist(
        assign_to_centroids(corpus, centroids, id_col, vec_col)
    )
    a = assigned.select(
        F.col("centroid_id"),
        F.col(id_col).alias("id_a"),
        F.col("cv").alias("va"),
    )
    b = assigned.select(
        F.col("centroid_id"),
        F.col(id_col).alias("id_b"),
        F.col("cv").alias("vb"),
    )
    pairs = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )
    dropped = pairs.groupBy("id_b").agg(F.min("id_a").alias("dup_of"))
    return (
        assigned.join(
            dropped, assigned[id_col] == dropped["id_b"], "left"
        )
        .select(
            F.col(id_col),
            "centroid_id",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )


def centroid_probe_array(
    centroids_local: list,
    vec: Column,
    nprobe: int,
) -> Column:
    """Top-`nprobe` centroid ids for the row's vector as ONE codegen
    expression (array<long>, cosine desc / centroid_id asc) — no
    window, no shuffle, streaming-legal.

    `centroids_local` is the COLLECTED centroid relation as
    (centroid_id, vector) pairs — the bounded "broadcast the model"
    contract (K centroids is a model, not data; same bound as the
    streaming classifier gates). Sorting (cscore, -centroid_id)
    structs DESC equals score desc / centroid_id asc — identical to
    assign_to_centroids / _probe_assigned's window order, so per-row
    routing and the window-based batch routing agree bit-for-bit
    (both round cosine to 6 before ranking).
    """
    ranked = []
    for cid, zv in centroids_local:
        zlit = F.array(*[F.lit(float(x)) for x in zv])
        cs = F.round(cosine(vec, zlit), 6)
        ranked.append(
            F.struct(cs.alias("cscore"), F.lit(-int(cid)).alias("neg_cid"))
        )
    top = F.slice(F.sort_array(F.array(*ranked), asc=False), 1, nprobe)
    return F.transform(top, lambda p: (-p["neg_cid"]).cast("long"))


def incremental_semantic_dedup(
    batch: DataFrame,
    frozen_index: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Day-2 SemDeDup gate: drop arriving vectors that are semantic
    duplicates (cosine >= threshold) of a FROZEN corpus, probing only
    the `nprobe` nearest inverted lists of the corpus' IVF layout.
    Returns the surviving batch rows (original columns).

    `frozen_index` is the (id, cv, centroid_id) relation that
    build_ivf_index persists and extend_ivf_index grows — the gate
    probes the SAME bucketed inverted lists the ANN service serves,
    so one index amortizes both workloads (an in-memory
    assign_to_centroids relation works equally for small corpora).

    The plan is stateless and streaming-legal end to end: routing is
    a per-row codegen expression (centroid_probe_array — no window),
    and each probe is one LEFT ANTI equi-join on centroid_id with the
    exact cosine verify riding as a join predicate — the band-gate
    shape (streaming/_streaming_code_dedup's bit_count verify), so a
    fat inverted list can surface candidates but never veto a
    non-duplicate by itself. A vector survives only if EVERY probed
    list misses; re-ingesting a vector already in the frozen corpus
    drops it at cosine 1.0 (idempotent re-ingest).

    Recall contract is SemDeDup's (Abbas et al. 2023): a duplicate
    hiding in an unprobed list is missed — raise `nprobe` (nprobe
    sequential anti-joins per batch) when recall matters more than
    cost. Zero-norm vectors are undefined under cosine and must be
    routed out upstream (int8_quantize documents the same drop).

    Scale: the arriving batch is never shuffled when the frozen side
    broadcasts; against a bucketed catalog table above the broadcast
    threshold (streaming_semantic_dedup index_mode="auto") the frozen
    scan has ZERO Exchange — its bucketed layout IS the shuffle, paid
    once at build_ivf_index time (reference analog: the map-side join
    precondition, mapred/join/CompositeInputFormat.java:34-58).
    `_qv`/`_sc*` are reserved intermediate column names.
    """
    cen_local = [
        (r["centroid_id"], r[vec_col])
        for r in centroids.select("centroid_id", vec_col).collect()
    ]  # bounded model relation (K centroids)
    qv = _as_double(F.col(vec_col))
    probes = centroid_probe_array(cen_local, qv, nprobe)
    out = batch.select(
        *batch.columns,
        qv.alias("_qv"),
        *[
            F.element_at(probes, r + 1).alias(f"_sc{r}")
            for r in range(nprobe)
        ],
    )
    for r in range(nprobe):
        idx = frozen_index.select(
            F.col("centroid_id").alias(f"_fc{r}"),
            F.col("cv").alias(f"_fv{r}"),
        )
        out = out.join(
            idx,
            (F.col(f"_sc{r}") == F.col(f"_fc{r}"))
            & (
                F.round(cosine(F.col("_qv"), F.col(f"_fv{r}")), 6)
                >= F.lit(float(threshold))
            ),
            "left_anti",
        )
    return out.select(*batch.columns)


def two_stage_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    candidates: int = 30,
    nprobe: int = 2,
) -> DataFrame:
    """Two-stage retrieval — THE production ANN serving shape:

      stage 1 (cheap, wide): ivf_int8_topk generates `candidates`
      ids per query from the bucket-pruned int8 inverted lists;
      stage 2 (exact, narrow): only those candidate rows rejoin the
      full-precision corpus for an exact cosine re-rank to `k`.

    The compute asymmetry is the point: stage 1 touches
    nprobe/num_centroids of the corpus at 1 byte/dim; stage 2 touches
    `candidates` rows per query at full precision — at 100 TB the
    exact math runs on a relation ~|Q|·candidates rows, independent
    of corpus size. Final scores are EXACT cosines, so any candidate
    the int8 tier ranked by quantized score is re-scored at full
    precision — recall loss comes only from candidate misses
    (bucket-miss + quantization-reorder past `candidates`), and
    widening `candidates` trades stage-2 work for recall without
    touching the index.

    Same output contract as every tier: (query_id, vec_id, score,
    rk), 6dp-rounded before ranking, vec_id tiebreak."""
    cand = ivf_int8_topk(
        corpus, queries, centroids, id_col, vec_col,
        k=candidates, nprobe=nprobe,
    ).select("query_id", id_col)
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("cv"))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    scored = (
        cand.join(c, id_col)
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def rrf_fuse(
    ranked_lists: list[DataFrame],
    id_col: str,
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher SIGIR'09) of
    N ranked lists — the standard hybrid-retrieval combiner (lexical
    BM25 + dense ANN): score(d) = Σ_lists 1/(c + rank_d). Rank-based,
    so the lists' raw scores need no calibration against each other —
    the reason RRF is the default fusion in production RAG stacks.

    Each input is a (query_id, `id_col`, rk) relation (extra columns
    ignored). A document missing from a list simply contributes
    nothing for that list. Output: (query_id, `id_col`, rrf, rk)
    top-`k` per query, fused score rounded 6dp before ranking,
    `id_col` tiebreak — the same contract as the ANN tiers, so a
    fused retriever is drop-in comparable with its inputs.

    Plan: union of the (already small: |Q|·k_in rows) ranked lists →
    one groupBy — fusion cost is independent of corpus size."""
    parts = [
        r.select(
            "query_id",
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(c)) + F.col("rk"))).alias("_contrib"),
        )
        for r in ranked_lists
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query_id", id_col).agg(
        F.round(F.sum("_contrib"), 6).alias("rrf")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc(id_col))
    return fused.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )
