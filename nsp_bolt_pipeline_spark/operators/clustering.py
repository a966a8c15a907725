"""Embedding k-means clustering (Lloyd's algorithm) and
cluster-balanced sampling — the "semantic dedup / mix curation" layer
of a training-data pipeline: cluster the corpus embedding space, then
cap or rebalance per cluster.

Design for 100 TB:

- The *data* never leaves the executors. Per iteration the only things
  moving are (a) the centroid model — k x dim doubles — collected to
  the driver and re-broadcast as a tiny DataFrame (bounded model
  state, the same loop MLlib's KMeans runs), and (b) one hash shuffle
  of (cluster, per-dim partial sums) for the mean update, which
  Spark's partial aggregation collapses map-side to k rows per
  partition.
- Assignment never shuffles the corpus while the model is
  literal-sized (k*dim within ``_ASSIGN_ARGMIN_MAX_TERMS``): the
  centroids inline into one narrow ``array_min`` projection. Above
  the bound it degrades to a broadcast nested-loop join (corpus x k
  centroids) collapsed by a ``min_by`` aggregation — one corpus
  shuffle (the groupBy(id) fold), but codegen constant in k (one
  ``zip_with`` + ``aggregate`` fold), so k can grow to real
  coarse-quantizer sizes (thousands) without blowing up the plan.
  No UDFs either way.
- Cross-engine determinism: the squared-L2 fold is the same
  left-to-right IEEE double op sequence as DuckDB's ``list_sum`` (the
  pairing bit-verified by operators/similarity.py), ties break to the
  lowest centroid id on both sides, and updated centroid components
  are rounded to 6 decimals on both sides (``floor(x*1e6+0.5)/1e6``,
  round-half-up, negative-safe) so the order-dependent last ULP of
  the mean cannot flip an assignment.
- Empty clusters keep their previous centroid (both sides).

Reference scope note: the reference pipeline has no clustering; this
is a scale-extension operator (build brief: embedding-space curation)
sharing the vector conventions of operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from nsp_bolt_pipeline_spark.session import scoped_conf


#: Heap budget for the hierarchical-cells checkpoint pile (all live
#: + dead levels): below it, level checkpoints stay memory-backed and
#: skip a per-level disk round-trip; above it they go DISK_ONLY (see
#: hierarchical_cells). Sized well inside the 6 GiB local driver heap
#: and any production executor tier.
_CKPT_HEAP_BUDGET_BYTES = 1 << 30

#: Target bytes per partition for the hierarchical-cells base/level
#: relations — the same measured-size derivation the streaming replay
#: harness applies where AQE cannot (guide §2.2: fewer, larger
#: partitions; the loop's eager checkpoints block AQE re-planning
#: across levels).
_LEVEL_PARTITION_BYTES = 32 << 20

def _round6(c: Column) -> Column:
    from nsp_bolt_pipeline_spark.functions.expr import round6

    return round6(c)


def _mean6_exprs(vec_col: str, dim: int, prefix: str = "c_") -> list[Column]:
    """The per-dimension round-6 mean aggregate list, built with ONE
    parser call per dimension instead of ~12 py4j round-trips each.

    Driver-side cost, not a plan change: ``F.expr`` parses to exactly
    the Column chain ``_round6(F.avg(F.col(vec)[d].cast("double")))``
    resolves to (``1e6``/``0.5D`` are DOUBLE literals like ``F.lit``
    produces; ``[d]`` is the same 0-based array index), so the
    analyzed plan — and therefore every result bit — is unchanged
    (pinned by tests/test_clustering.py::test_mean6_exprs_semantics).
    Measured on the shared bench VM: the 64-dim Column-chain build
    cost 4-8 s of pure driver time PER TRAINING STEP at ~1-3 ms per
    py4j call; this form is ~1 call per dimension."""
    return [
        F.expr(
            f"floor(avg(cast(`{vec_col}`[{d}] as double)) * 1e6 + 0.5D)"
            f" / 1e6"
        ).alias(f"{prefix}{d}")
        for d in range(dim)
    ]


def sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance: elementwise squared diff + left-fold sum,
    all in double (same op order as DuckDB ``list_sum`` over
    ``list_transform``)."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _centroids_df(df: DataFrame, centroids: dict[int, list[float]]) -> DataFrame:
    schema = T.StructType(
        [
            T.StructField("cid", T.LongType()),
            T.StructField("cv", T.ArrayType(T.DoubleType())),
        ]
    )
    rows = [(int(cid), [float(x) for x in v]) for cid, v in sorted(centroids.items())]
    return df.sparkSession.createDataFrame(rows, schema)


#: Literal-model budget for the map-side argmin assignment: below
#: k*dim literals the centroid model inlines into ONE projection (no
#: corpus Exchange at all); above it the expression tree would bloat
#: the plan/codegen, so assignment falls back to the broadcast
#: fan-out + min_by fold (one corpus shuffle, constant-size codegen).
#: Every registry consumer trains k <= 16 at dim 64 (1024 terms).
_ASSIGN_ARGMIN_MAX_TERMS = 4096


def _argmin_cluster_expr(vec_col: str, centroids: dict[int, list[float]]) -> Column:
    """``array_min(array(struct(d_i, cid_i)...)).cid`` — the
    nearest-centroid pick as one parsed expression. Struct ordering is
    (d, cid) lexicographic, i.e. exactly the ``min_by(cid,
    struct(d, cid))`` tie-break of the fan-out path; each d_i is the
    same cast-to-double zip_with/aggregate fold as :func:`sq_dist`
    (same IEEE op sequence, so assignments are bit-identical —
    path equality + distance bit-equality pinned by
    tests/test_clustering.py).
    Literals ride ``repr(float)`` (shortest round-trip decimal), so
    the parsed doubles equal the driver-side model bits."""
    terms = []
    for cid, cv in sorted(centroids.items()):
        arr = ", ".join(f"{float(x)!r}D" for x in cv)
        d = (
            f"aggregate(zip_with(`{vec_col}`, array({arr}), "
            f"(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
            f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0.0D, "
            f"(acc, x) -> acc + x)"
        )
        terms.append(f"struct({d} AS d, {int(cid)}L AS cid)")
    return F.expr(f"array_min(array({', '.join(terms)})).cid")


def assign_clusters(
    df: DataFrame,
    centroids: dict[int, list[float]],
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment (squared L2, ties -> lowest cid).

    While ``k*dim`` fits :data:`_ASSIGN_ARGMIN_MAX_TERMS`, the model
    is inlined as literals and each vector picks
    ``array_min(array(struct(d_i, cid_i)))`` in one narrow projection
    — zero corpus shuffle (struct ordering = (d, cid) lexicographic =
    exactly the ``min_by`` tie-break). Above the bound: broadcast the
    k-row centroid table, expand each vector to k scored pairs,
    collapse with ``min_by`` partial agg — that path pays ONE corpus
    shuffle (the groupBy(id) fold) but keeps codegen constant in k.

    Callers must pass unique ids: the argmin path emits one row per
    input row while the fan-out path's groupBy(id) collapses
    duplicate ids, so only under unique ids are the two paths (and
    therefore any threshold crossing) cardinality-identical.

    The literal path requires every centroid component finite:
    ``repr(inf)``/``repr(nan)`` parse as identifiers, not doubles, so
    a non-finite model falls back to the fan-out path (which degrades
    gracefully to NaN distances) instead of failing analysis. An
    empty model also takes the fan-out path — its crossJoin against
    zero centroid rows returns the empty assignment the callers
    expect, where ``array_min(array())`` would fail to resolve."""
    import math

    model_is_literal = (
        bool(centroids)
        and len(centroids) * dim <= _ASSIGN_ARGMIN_MAX_TERMS
        and all(
            math.isfinite(x) for cv in centroids.values() for x in cv
        )
    )
    if model_is_literal:
        # ONE parser call for the whole argmin expression (the
        # _mean6_exprs lesson: building k structs x 2 HOF lambdas via
        # py4j cost ~0.6s of pure driver time PER TRAINING ROUND at
        # ~1-3ms/call; the parsed tree is semantically identical —
        # pinned by tests/test_clustering.py). The all-literal
        # centroid arrays constant-fold into single array literals,
        # which codegen keeps in its references table, so the
        # generated source — and the compiled class — is reused
        # across rounds even though the model values change.
        return df.select(
            F.col(id_col),
            F.col(vec_col),
            _argmin_cluster_expr(vec_col, centroids).alias("cluster"),
        )
    c = _centroids_df(df, centroids)
    pairs = (
        df.select(F.col(id_col), F.col(vec_col))
        .crossJoin(F.broadcast(c))
        .withColumn("d", sq_dist(F.col(vec_col), F.col("cv")))
    )
    best = F.min_by(F.col("cid"), F.struct(F.col("d"), F.col("cid")))
    return (
        pairs.groupBy(id_col)
        .agg(
            F.first(F.col(vec_col)).alias(vec_col),
            best.cast("long").alias("cluster"),
        )
        .select(id_col, vec_col, "cluster")
    )


def _update_centroids(
    assigned: DataFrame,
    prev: dict[int, list[float]],
    *,
    dim: int,
    vec_col: str = "embedding",
) -> dict[int, list[float]]:
    """Per-cluster elementwise mean, rounded to 6 decimals; empty
    clusters keep their previous centroid. Collects k rows (model
    state), never data."""
    means = assigned.groupBy("cluster").agg(*_mean6_exprs(vec_col, dim))
    new = dict(prev)
    for row in means.collect():
        new[int(row["cluster"])] = [row[f"c_{d}"] for d in range(dim)]
    return new


def kmeans_lloyd(
    df: DataFrame,
    *,
    k: int,
    dim: int,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means: init = the k vectors with the
    lowest ids (reproducible, like ivf_topk's coarse centroids; a
    production run would k-means++ seed offline), then ``rounds``
    assignment passes with a mean update between each pair. Returns
    the final (id, cluster) assignment for every vector."""
    centroids = _lloyd_centroids(
        df, k=k, dim=dim, rounds=rounds, id_col=id_col, vec_col=vec_col
    )
    return assign_clusters(
        df, centroids, dim=dim, id_col=id_col, vec_col=vec_col
    ).select(id_col, "cluster")


def _lloyd_centroids(
    df: DataFrame,
    *,
    k: int,
    dim: int,
    rounds: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[int, list[float]]:
    """The Lloyd loop up to (but excluding) the final assignment:
    returns the final centroid dict (k rows of model state)."""
    # seed with the k LOWEST ids (deterministic on any id domain) —
    # filter(id < k) only equals that for dense 0-based ids and
    # silently under-seeds (or returns an empty model) on hashed or
    # offset id spaces
    init_rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    centroids = {
        int(r[id_col]): [float(x) for x in r[vec_col]] for r in init_rows
    }
    for _ in range(rounds - 1):
        assigned = assign_clusters(
            df, centroids, dim=dim, id_col=id_col, vec_col=vec_col
        )
        centroids = _update_centroids(
            assigned, centroids, dim=dim, vec_col=vec_col
        )
    return centroids


def lloyd_centroids_df(
    df: DataFrame,
    *,
    k: int,
    dim: int,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The trained coarse-quantizer model as a (cid, cv) DataFrame —
    the k-means centroids :func:`kmeans_lloyd` converges to, in the
    shape :func:`operators.similarity.ivf_topk` consumes. Seeding an
    IVF index from these instead of raw corpus vectors concentrates
    list occupancy and measurably improves recall at equal nprobe."""
    centroids = _lloyd_centroids(
        df, k=k, dim=dim, rounds=rounds, id_col=id_col, vec_col=vec_col
    )
    return _centroids_df(df, centroids)


def kmeans_medoids(
    df: DataFrame,
    *,
    k: int,
    dim: int,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The real-document representative of every cluster: the member
    closest (squared L2, ties -> lowest id) to its FINAL centroid.
    Centroids are virtual mean vectors; the medoid is the row you
    show a human or feed to a labeling pass. One broadcast join onto
    the assignment and a per-cluster min_by — no extra corpus
    shuffle beyond the assignment itself."""
    centroids = _lloyd_centroids(
        df, k=k, dim=dim, rounds=rounds, id_col=id_col, vec_col=vec_col
    )
    assigned = assign_clusters(
        df, centroids, dim=dim, id_col=id_col, vec_col=vec_col
    )
    c = _centroids_df(df, centroids)
    scored = assigned.join(
        F.broadcast(c), F.col("cluster") == F.col("cid")
    ).withColumn("d2", sq_dist(F.col(vec_col), F.col("cv")))
    best = F.min_by(
        F.struct(F.col(id_col).alias("medoid_id"), F.col("d2")),
        F.struct(F.col("d2"), F.col(id_col)),
    )
    return (
        scored.groupBy("cluster")
        .agg(best.alias("b"))
        .select(
            F.col("cluster").cast("long"),
            F.col("b.medoid_id").cast("long").alias("medoid_id"),
            F.col("b.d2").alias("d2"),
        )
    )


def cluster_balanced_sample(
    assigned: DataFrame,
    *,
    per_cluster: int,
    salt: str = "kmeans",
    id_col: str = "vec_id",
) -> DataFrame:
    """Keep at most ``per_cluster`` members per cluster, chosen by a
    deterministic content hash (md5 of salt||id — same convention as
    operators/sampling.py) so the sample is reproducible across runs
    and engines. One shuffle on cluster; the per-cluster window sees
    only that cluster's rows."""
    hx = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = W.partitionBy("cluster").orderBy(hx, F.col(id_col))
    return (
        assigned.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= per_cluster)
        .select(id_col, "cluster", "rnk")
    )


def semantic_dedup(
    df: DataFrame,
    *,
    k: int | None = None,
    dim: int,
    threshold: float,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding space, then find
    near-duplicate pairs ONLY within each cluster and keep one
    canonical member per connected group. The cluster assignment is
    the published trick that bounds the quadratic term — all-pairs
    cosine runs over cluster members, never the corpus, so the cost
    is sum(|c_i|^2) instead of n^2.

    Scale design: at 100 TB, k MUST grow with the corpus so
    per-cluster membership stays bounded — with fixed k, cell
    population grows linearly with n and the within-cell pair stage
    is quadratic again (the sf4.0 probe OOMed a 6 GiB JVM at 200k
    vectors with the sf0.01-sized k). Pass ``target_cell_size``
    instead of ``k`` to derive k = ceil(n / target_cell_size) from
    one count() — the SemDeDup paper's own regime (k scaled to hold
    ~O(100-1000) points per cell). Exactly one of ``k`` /
    ``target_cell_size`` must be given; the fixed-k form remains for
    the oracle entries, whose DuckDB replay needs k as a literal.
    The pair stage is one self-equi-join on ``cluster`` (hash
    shuffle, AQE splits skewed clusters) and the component/keeper
    resolution reuses the iterative min-label CC of
    :func:`~nsp_bolt_pipeline_spark.operators.graph.dedup_clusters`.
    Unlike SRP-LSH (operators/similarity.py), recall here is exact
    WITHIN a cluster and zero across clusters — the two operators
    are complementary curation passes.

    Returns one row per input vector: (id, cluster_id, keep), where
    ``cluster_id`` is the near-dup component (NOT the k-means
    cluster) and ``keep`` marks the smallest-id member."""
    from nsp_bolt_pipeline_spark.operators.graph import dedup_clusters

    if (k is None) == (target_cell_size is None):
        raise ValueError("pass exactly one of k / target_cell_size")
    if k is None:
        n = df.count()
        k = max(2, -(-n // target_cell_size))  # ceil division

    # assign_clusters already carries the vector — taking its output
    # directly (the kmeans_medoids pattern) avoids re-joining the full
    # corpus onto the assignment just to recover the widest column
    centroids = _lloyd_centroids(
        df, k=k, dim=dim, rounds=rounds, id_col=id_col, vec_col=vec_col
    )
    members = assign_clusters(
        df, centroids, dim=dim, id_col=id_col, vec_col=vec_col
    ).select(id_col, vec_col, "cluster")
    pairs = _pairs_within_cells(
        members, threshold=threshold, id_col=id_col, vec_col=vec_col
    )
    return dedup_clusters(df, pairs, id_col=id_col)


def _pairs_within_cells(
    members: DataFrame,
    *,
    threshold: float,
    id_col: str,
    vec_col: str,
    cell_col: str = "cluster",
) -> DataFrame:
    """All (d1, d2) with cosine >= threshold WITHIN a cell: one
    self-equi-join on the cell key (hash shuffle, AQE splits skewed
    cells). Cost is sum(|c_i|^2), never n^2 — the SemDeDup bound."""
    from nsp_bolt_pipeline_spark.operators.similarity import cosine

    a = members.select(
        cell_col,
        F.col(id_col).alias("d1"),
        F.col(vec_col).alias("v1"),
    )
    b = members.select(
        cell_col,
        F.col(id_col).alias("d2"),
        F.col(vec_col).alias("v2"),
    )
    return (
        a.join(b, cell_col)
        .filter(F.col("d1") < F.col("d2"))
        .withColumn("sim", cosine(F.col("v1"), F.col("v2")))
        .filter(F.col("sim") >= threshold)
        .select("d1", "d2")
    )


def _argmin_sub_expr(vec_col: str, cents_col: str = "cents") -> Column:
    """argmin over a per-cell (sub, cv) centroid-ARRAY column:
    transform each candidate into struct(d, sub) with the same
    cast-to-double zip_with/aggregate fold as :func:`sq_dist`, then
    ``array_min`` — struct ordering is (d, sub) lexicographic, i.e.
    exactly the ``min_by(sub, struct(d, sub))`` tie-break of the old
    fan-out fold, so assignments are bit-identical (pinned by
    tests/test_clustering.py::test_grouped_argmin_matches_fanout_fold
    and the per-cell flat-Lloyd replay in test_round3_ops)."""
    return F.expr(
        f"array_min(transform(`{cents_col}`, c -> struct("
        f"aggregate(zip_with(`{vec_col}`, c.cv, "
        f"(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0.0D, "
        f"(acc, x) -> acc + x) AS d, c.sub AS sub))).sub"
    )


def _grouped_lloyd_split(
    members: DataFrame,
    *,
    b: int,
    dim: int,
    rounds: int,
    id_col: str,
    vec_col: str,
    broadcast_model: bool,
) -> DataFrame:
    """One hierarchy level: split EVERY cell into <= b subcells by an
    independent per-cell Lloyd run — all cells at once, as grouped
    DataFrame ops (no driver loop, no driver-side model dict).

    Semantics per cell are byte-identical to :func:`kmeans_lloyd` with
    k = b on that cell's members: seeds are the b lowest ids in the
    cell, assignment is squared-L2 with ties to the lowest seed id
    (the sub index is ordered by seed id, so min_by on sub is the same
    tie-break), the mean update is round-6 with empty-subcell
    carry-over. A single root cell therefore reproduces the flat
    k-means exactly — which is what lets the sf0.01 oracle replay the
    depth-1 collapse of the hierarchy with the existing Lloyd CTEs.

    Scale design: seeds come from a two-phase min-b aggregation
    (per-input-partition slice of an array_sort'd collect_list, then a
    per-cell merge of those <= b-element arrays) — NOT a row_number
    window, which would funnel the whole corpus through one task at
    the root level. The centroid model stays a (cell, sub, cv)
    DataFrame end to end; it is broadcast to the assignment join only
    while small (``broadcast_model``), otherwise the join shuffles on
    the cell key, which is diverse exactly when the model is large.

    Returns members re-labelled with ``cell -> cell * b + sub``."""
    sid = F.struct(F.col(id_col).alias("sid"), F.col(vec_col).alias("sv"))
    per_part = members.groupBy(
        "cell", F.spark_partition_id().alias("_pid")
    ).agg(F.slice(F.array_sort(F.collect_list(sid)), 1, b).alias("top"))
    init = (
        per_part.groupBy("cell")
        .agg(
            F.slice(
                F.array_sort(F.flatten(F.collect_list("top"))), 1, b
            ).alias("top")
        )
        .select("cell", F.posexplode("top").alias("sub", "s"))
        .select(
            "cell",
            "sub",
            F.transform(F.col("s.sv"), lambda x: x.cast("double")).alias(
                "cv"
            ),
        )
    )

    def _assign(cent: DataFrame) -> DataFrame:
        # one (cell, cents[<=b]) row per cell — same model rows,
        # aggregated into an array so the nearest-sub pick is a
        # PROJECTION over the members join. The old form fanned every
        # member out to b scored rows and re-collapsed them with a
        # groupBy(id, cell) min_by fold, which shipped the whole
        # member relation (vector included) through one more corpus
        # shuffle per assignment (guide §2.3/§2.4); the argmin
        # projection ships nothing. array_sort orders candidates by
        # sub (unique per cell), and the argmin tie-break is
        # bit-identical to the min_by fold (see _argmin_sub_expr).
        carr = cent.groupBy("cell").agg(
            F.array_sort(
                F.collect_list(F.struct("sub", "cv"))
            ).alias("cents")
        )
        right = F.broadcast(carr) if broadcast_model else carr
        return members.join(right, "cell").select(
            F.col(id_col),
            F.col(vec_col),
            F.col("cell"),
            _argmin_sub_expr(vec_col).alias("sub"),
        )

    cent = init
    for _ in range(rounds - 1):
        assigned = _assign(cent)
        # one parser call for the whole 64-term array aggregate — the
        # Column-chain form cost seconds of py4j driver time per level
        # (see _mean6_exprs); resolved plan is identical
        terms = ", ".join(
            f"floor(avg(cast(`{vec_col}`[{d}] as double)) * 1e6 + 0.5D)"
            f" / 1e6"
            for d in range(dim)
        )
        means = assigned.groupBy("cell", "sub").agg(
            F.expr(f"array({terms})").alias("mv")
        )
        cent = (
            cent.join(means, ["cell", "sub"], "left")
            .select(
                "cell", "sub", F.coalesce("mv", "cv").alias("cv")
            )
        )
    final = _assign(cent)
    return final.select(
        id_col,
        vec_col,
        (F.col("cell") * F.lit(b) + F.col("sub")).cast("long").alias("cell"),
    )


def hierarchical_cells(
    df: DataFrame,
    *,
    target_cell_size: int,
    branching: int = 8,
    dim: int,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    overflow_factor: int = 4,
    max_overflow_passes: int = 8,
) -> DataFrame:
    """Partition the embedding space into ~ceil(n / target_cell_size)
    k-means cells with assignment cost O(n * L * b * dim) instead of
    the flat Lloyd's O(n * k * dim).

    With k proportional to n (which SemDeDup requires — fixed k makes
    the within-cell pair join quadratic again), flat nearest-of-k
    assignment is itself quadratic: every vector scores against every
    centroid. The hierarchy splits cells level by level (depth
    L = min L with branching^L >= k, per-level fan-out b = smallest
    integer with b^L >= k), so each vector only ever scores against
    the b centroids of its current cell: O(n log n) total instead of
    the flat form's measured ~2.7x growth per 2x data.
    When k <= branching this collapses to depth 1 = exactly the flat
    Lloyd (same seeds, ties, round-6 means), which keeps the DuckDB
    oracle replay valid at oracle scale.

    Overflow guard: a shallow top fan-out cannot separate corpora
    with more natural clusters than b (measured on the sf1.0 scale
    corpus: 10 planted centers vs b=6 left cells 12x over target,
    tripling the downstream pair volume and OOMing the CC stage), so
    after the fixed-depth loop any cell still holding more than
    ``overflow_factor * target_cell_size`` members is re-split —
    only those cells, repeatedly, until all comply or
    ``max_overflow_passes`` is hit (duplicate-heavy cells can be
    unsplittable: identical vectors land on one centroid forever).
    At oracle scale the depth-1 cells sit far below the cap (pytest
    pins max/target <= factor), so overflow never fires there and
    the flat SQL replay stays exact.

    Returns (id, vec, cell); cell ids are unique longs."""
    n = df.count()
    k = max(2, -(-n // target_cell_size))  # ceil division
    depth = 1
    while branching**depth < k:
        depth += 1
    b = max(2, int(k ** (1.0 / depth)))
    while b**depth < k:  # integer-exact, immune to float pow rounding
        b += 1

    from pyspark import StorageLevel

    # Vectors are checkpointed ONCE; levels checkpoint ASSIGNMENTS.
    # The r10 form checkpointed the full (id, dim*8 vector, cell)
    # relation per level, and — since unpersist() on a superseded
    # localCheckpoint does NOT free its RDD blocks (only the
    # ContextCleaner after a JVM GC does) — the dead-level pile
    # carried ~17x more bytes than the (id, cell) assignments it
    # existed to pin (~1 GiB/level at sf64; I/O-linear growth, the
    # r10 verdict's worst scale item). Now: one base (id, vec)
    # relation hash-partitioned by id, plus an n*~24-byte (id, cell)
    # checkpoint per level; each level's members are re-derived as a
    # zero-Exchange shuffled-hash join of the two (checkpoints
    # preserve partitioning; the assignment side is the build side —
    # a few MB per partition at any scale). localCheckpoint, NOT
    # persist, stays load-bearing: persist leaves the logical plan
    # intact, so after L levels Catalyst would re-analyze a plan
    # nesting L grouped Lloyd runs — the treeString of which alone
    # OOMed the heap at depth 4 (the connected-components lesson,
    # graph.py). On a real cluster swap in df.checkpoint() for fault
    # tolerance of the blocks.
    est_base_bytes = n * (dim * 8 + 32)
    est_pile_bytes = est_base_bytes + n * 24 * (depth + max_overflow_passes)
    ckpt_level = (
        StorageLevel.MEMORY_AND_DISK
        if est_pile_bytes <= _CKPT_HEAP_BUDGET_BYTES
        else StorageLevel.DISK_ONLY
    )

    # Partition count from measured size, not the session constant
    # (guide §2.2/§2.6): the level loop runs between eager checkpoints
    # where AQE cannot re-plan across iterations, so a fixed
    # spark.sql.shuffle.partitions would pin tiny-corpus levels at
    # full-cluster task counts and corpus-scale levels at too few.
    # The CPU floor matters as much as the byte target here: the level
    # work is distance-compute-bound, so while partitions stay >= 1
    # MiB the count must not drop below the core count (a 32 MiB-only
    # derivation left a 16-core probe running 7 tasks — measured ~2x
    # the level wall time).
    sc = df.sparkSession.sparkContext
    by_size = -(-est_base_bytes // _LEVEL_PARTITION_BYTES)
    cpu_floor = min(
        sc.defaultParallelism, -(-est_base_bytes // (1 << 20))
    )
    nparts = int(
        max(1, cpu_floor, min(4 * sc.defaultParallelism, by_size))
    )

    spark = df.sparkSession

    def _ckpt_by_id(rel: DataFrame) -> DataFrame:
        # AQE is scoped OFF for the checkpoint materialization: an
        # AQE-planned checkpoint captures UnknownPartitioning into its
        # LogicalRDD (the adaptive final plan is not propagated), which
        # would re-Exchange BOTH sides of every downstream id join.
        # With AQE off the HashPartitioning(id, nparts) layout survives
        # the checkpoint and the join plans zero Exchange (pinned by
        # tests/test_plans.py). The input here is always a scan or an
        # already-checkpointed relation, so AQE has nothing to offer
        # this one query; the session value is restored immediately.
        with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
            return rel.repartition(nparts, F.col(id_col)).localCheckpoint(
                eager=True, storageLevel=ckpt_level
            )

    base = _ckpt_by_id(df.select(F.col(id_col), F.col(vec_col)))

    def _members(assign: DataFrame) -> DataFrame:
        # both sides are checkpointed HashPartitioning(id, nparts) —
        # the join plans ZERO Exchange; the shuffle_hash hint makes
        # the narrow assignment relation the hash build side (no
        # sort of the vector side, unlike SMJ). The join result is
        # PERSISTED: the grouped Lloyd consumes members three times
        # per level (seeds + two assignment rounds) and re-executing
        # the join per reference measured ~2x the level cost at
        # n=400k. persist (not localCheckpoint) is safe here because
        # the join's lineage is constant-size — two LogicalRDD scans —
        # so no Catalyst plan growth across levels, and persist blocks
        # (unlike superseded localCheckpoint RDDs) are freed
        # DETERMINISTICALLY by the explicit unpersist below: at most
        # one live members copy ever exists, where the r10 form left
        # a dead full-relation pile behind for the ContextCleaner.
        return (
            base.join(assign.hint("shuffle_hash"), id_col)
            .select(F.col(id_col), F.col(vec_col), F.col("cell"))
            .persist(ckpt_level)
        )

    def _ckpt_assign(assign: DataFrame) -> DataFrame:
        # two-step: materialize the level output under normal AQE
        # (the level's internal shuffles keep adaptive coalescing),
        # then pin the narrow (id, cell) relation to the id-hash
        # layout with AQE scoped off — the second pass re-shuffles
        # ~16 bytes/row, never vectors.
        flat = assign.localCheckpoint(eager=True, storageLevel=ckpt_level)
        out = _ckpt_by_id(flat)
        # the flat intermediate is superseded immediately; its blocks
        # are freed by the ContextCleaner after GC (they are n*~16
        # bytes, not vector-scale, so the lag is harmless)
        flat.unpersist()
        return out

    members = base.withColumn("cell", F.lit(0).cast("long"))
    assign = None
    prev_assign = None
    prev_members = None
    for level in range(depth):
        # the model has b^(level+1) rows; broadcast while it is a few
        # thousand vectors, shuffle on the (then-diverse) cell key after
        assign = _ckpt_assign(
            _grouped_lloyd_split(
                members,
                b=b,
                dim=dim,
                rounds=rounds,
                id_col=id_col,
                vec_col=vec_col,
                broadcast_model=(b ** (level + 1)) <= 8192,
            ).select(F.col(id_col), F.col("cell"))
        )
        if prev_assign is not None:
            prev_assign.unpersist()
        prev_assign = assign
        members = _members(assign)
        if prev_members is not None:
            prev_members.unpersist()
        prev_members = members

    cap = overflow_factor * target_cell_size
    for _ in range(max_overflow_passes):
        # the over-cell scan runs on the narrow ASSIGNMENT relation —
        # it never touches vectors
        over_cells = (
            assign.groupBy("cell")
            .count()
            .filter(F.col("count") > cap)
            .select("cell")
        )
        # bounded driver fetch: one row per over-cap cell id
        over_ids = [r["cell"] for r in over_cells.collect()]
        if not over_ids:
            break
        is_over = F.col("cell").isin(over_ids)
        split = _grouped_lloyd_split(
            members.filter(is_over),
            b=b,
            dim=dim,
            rounds=rounds,
            id_col=id_col,
            vec_col=vec_col,
            broadcast_model=len(over_ids) * b <= 8192,
        ).select(F.col(id_col), F.col("cell"))
        # disjoint relabel: kept cells map to cell*(b+1), split cells
        # to parent*(b+1) + 1 + sub — collision-free for sub < b.
        # `div` keeps the arithmetic integer-exact on large composite
        # cell ids (floor(col/b) would detour through double)
        kept = assign.filter(~is_over).select(
            F.col(id_col),
            (F.col("cell") * (b + 1)).cast("long").alias("cell"),
        )
        resplit = split.select(
            F.col(id_col),
            F.expr(
                f"CAST(cell % {b} + (cell div {b}) * {b + 1} + 1 AS LONG)"
            ).alias("cell"),
        )
        assign = _ckpt_assign(kept.unionByName(resplit))
        prev_assign.unpersist()
        prev_assign = assign
        members = _members(assign)
        prev_members.unpersist()
        prev_members = members
    return members


def semantic_dedup_scaled(
    df: DataFrame,
    *,
    target_cell_size: int,
    dim: int,
    threshold: float,
    rounds: int = 2,
    branching: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup with BOTH stages sub-quadratic: cells come from
    :func:`hierarchical_cells` (k = ceil(n / target_cell_size) grows
    with the corpus, assignment is hierarchical so it never pays the
    flat n*k scoring), then the exact within-cell cosine pair join and
    min-label connected components of :func:`semantic_dedup`. Same
    output contract: (id, cluster_id, keep) with cluster_id the
    near-dup component and keep marking the smallest-id member.

    When ceil(n / target_cell_size) <= branching the result is
    IDENTICAL to ``semantic_dedup(df, k=that)`` — the property the
    oracle twin exploits at sf0.01."""
    from nsp_bolt_pipeline_spark.operators.graph import dedup_clusters

    members = hierarchical_cells(
        df,
        target_cell_size=target_cell_size,
        branching=branching,
        dim=dim,
        rounds=rounds,
        id_col=id_col,
        vec_col=vec_col,
    )
    pairs = _pairs_within_cells(
        members,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        cell_col="cell",
    )
    return dedup_clusters(df, pairs, id_col=id_col)
