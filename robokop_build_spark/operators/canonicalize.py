"""Canonicalization: connected components over synonym-equivalence edges +
alias→representative resolution joins.

Reference analog: KnowledgeGraph.merge / add_or_find_node — eager per-edge
synonym merging via an in-memory node_map (builder/builder.py:136-167,
249-264). At 10^12 docs that becomes an iterative large-star/small-star
connected-components fixpoint (Kiveris et al., "Connected Components in
MapReduce and Beyond") with a deterministic min-CURIE representative, so
outputs are stable across runs and parallelism levels (SURVEY.md §7 hard
thing #1).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# CC side gate, shared by canonical_map (normalization rows) and
# connected_components (distinct edges): up to this many, one collect +
# driver union-find; above it, the distributed large-star/small-star loop
LOCAL_CC_MAX_EDGES = 2_000_000
# salt buckets of resolve_aliases' shuffle side
_NSALT = 8


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .withColumn("m", F.least("_mn", "src"))
        .drop("_mn")
    )
    return (
        sym.filter(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    orient = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    mins = orient.groupBy("src").agg(F.min("dst").alias("m"))
    relinked = orient.join(mins, "src").select(F.col("dst").alias("src"), "m")
    rooted = mins.select("src", "m")
    return (
        relinked.union(rooted)
        .filter(F.col("src") != F.col("m"))
        .withColumnRenamed("m", "dst")
        .distinct()
    )


def _local_union_find(rows) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        p = parent.setdefault(x, x)
        if p != x:
            parent[x] = p = find(p)
        return p

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    groups: dict[str, list[str]] = {}
    for node in list(parent):
        groups.setdefault(find(node), []).append(node)
    rep_map: dict[str, str] = {}
    for members in groups.values():
        rep = min(members)
        for m in members:
            rep_map[m] = rep
    return rep_map


def _min_present(a, b):
    """min ignoring None, as Spark's min aggregate ignores nulls."""
    return b if a is None else a if b is None else min(a, b)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    stats: dict | None = None,
    manager=None,
    stage: str = "connected_components",
    commit_every: int = 0,
) -> DataFrame:
    """Undirected CC → (curie, rep) with rep = min member of the component,
    both typed like the input's `src` column; null endpoints are dropped.

    Scale-adaptive on the measured count of distinct edges: up to
    LOCAL_CC_MAX_EDGES (a dimension-sized edge list, the usual
    normalization map) a driver union-find — the same judgment call as
    broadcasting a small join side; paying ~6 shuffle rounds of scheduler
    latency per iteration for 10^4 edges is pure overhead. Above it,
    alternating large-star/small-star rounds (O(log n) convergence), each
    localCheckpointed to cut lineage — the driver fixpoint loop Catalyst
    cannot express (SURVEY.md §4 custom piece #2). Both sides produce the
    identical deterministic min-member mapping.

    stats (distributed side only): iterations, iter_secs, iter_edges,
    resumed_from.

    manager/stage/commit_every: optional durable loop checkpointing for
    the distributed path (operators/iterate.LoopCheckpointer) — the
    contracted edge set commits as a CheckpointManager snapshot every
    commit_every rounds and a relaunched call resumes contraction from
    there; the star fixpoint is unique, so the resumed output is
    hash-identical (the resume pays one extra fingerprint round to
    re-detect convergence).
    """
    from pyspark import StorageLevel

    from ..caching import register_persisted
    from .iterate import LoopCheckpointer, input_fingerprint

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        # consumed by up to three actions (fingerprint-or-count, the local
        # collect or the loop seed, all_nodes) — without materialization
        # each re-runs the distinct shuffle (round-8 review finding)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    register_persisted(e)
    # one shared agg: the fingerprint's first component IS the row count,
    # so durable mode picks its side from the same pass instead of a
    # second full count() job; non-durable mode pays count() only
    fp = (
        input_fingerprint(e, ["src", "dst"]) if manager is not None else None
    )
    n_e = fp[0] if fp is not None else e.count()
    if n_e <= LOCAL_CC_MAX_EDGES:
        rep_map = _local_union_find(
            [(r["src"], r["dst"]) for r in e.collect()]
        )
        # typed from the input, not inferred (inference fails on no rows)
        key = e.schema["src"].dataType
        schema = StructType([StructField("curie", key), StructField("rep", key)])
        return e.sparkSession.createDataFrame(sorted(rep_map.items()), schema)
    params = None if fp is None else {"op": "connected_components", "input": fp}
    ckpt = LoopCheckpointer(manager, stage, commit_every, params=params)
    all_nodes = e.select(F.col("src").alias("curie")).union(
        e.select(F.col("dst").alias("curie"))
    ).distinct()

    start = 0
    resumed = ckpt.resume()
    if resumed is not None:
        start, cur = resumed
    else:
        cur = e.filter(F.col("src") != F.col("dst")).localCheckpoint(eager=True)
    prev_fp = None
    converged = False
    iter_secs: list[float] = []
    iter_edges: list[int] = []
    for i in range(start, max_iter):
        t0 = time.time()
        cur = ckpt.save(i, _small_star(_large_star(cur)))
        fp = input_fingerprint(cur, ["src", "dst"])
        iter_secs.append(round(time.time() - t0, 3))
        iter_edges.append(fp[0])
        if fp == prev_fp:
            converged = True
            break
        prev_fp = fp
    if stats is not None:
        stats["iterations"] = len(iter_secs)
        stats["iter_secs"] = iter_secs
        stats["iter_edges"] = iter_edges
        stats["resumed_from"] = start
    if not converged:
        # a partially-contracted mapping is silently wrong — fail loudly
        raise RuntimeError(
            f"connected_components: no fixpoint after max_iter={max_iter} "
            "rounds (expected O(log n)); raise max_iter or check for "
            "pathological edge input"
        )

    # fixpoint edges form stars (node → component min); orient + dedupe,
    # then add identity rows for nodes whose component is a singleton
    star = cur.select(
        F.greatest("src", "dst").alias("curie"), F.least("src", "dst").alias("rep")
    ).groupBy("curie").agg(F.min("rep").alias("rep"))
    return (
        all_nodes.join(star, "curie", "left")
        .select("curie", F.coalesce("rep", "curie").alias("rep"))
    )


def canonical_map(
    normalization: DataFrame,
    manager=None,
    cc_stage: str = "rep_map_cc",
    cc_commit_every: int = 0,
    stats: dict | None = None,
) -> DataFrame:
    """normalization(alias, canonical, node_type, name) →
    (curie, rep, node_type, name): every known curie mapped to its
    deterministic representative, carrying component metadata (per-field
    min name/type, nulls ignored, for determinism; fixture components are
    metadata-consistent). A row with a null alias or canonical adds no
    edge. Column types follow the input.

    Up to LOCAL_CC_MAX_EDGES rows: one collect + driver union-find + one
    createDataFrame — the map is a dimension table, and the distributed
    loop's ~6 scheduler round-trips per CC iteration dwarf the compute at
    this size. Above it: connected_components plus a metadata aggregate
    (the 10^12-alias path).

    manager/cc_stage/cc_commit_every: durable loop checkpointing for the
    distributed CC (operators/iterate.LoopCheckpointer) — a preempted
    10^12-alias canonicalization resumes contraction from the last
    committed round instead of round zero. The local side ignores them
    (its whole cost is one collect). Loop params (op + input fingerprint)
    are validated on resume, so stale state from a different normalization
    map raises instead of silently resuming."""
    if normalization.count() <= LOCAL_CC_MAX_EDGES:
        rows = normalization.select("alias", "canonical", "node_type", "name").collect()
        rep_map = _local_union_find(
            [(a, c) for a, c, _, _ in rows if a is not None and c is not None]
        )
        # per-field min, independently, to match the distributed agg exactly
        meta: dict[str, list] = {}
        for alias, _, node_type, name in rows:
            rep = rep_map.get(alias)
            if rep is not None:
                cur = meta.setdefault(rep, [None, None])
                cur[0] = _min_present(cur[0], node_type)
                cur[1] = _min_present(cur[1], name)
        ins = normalization.schema
        key = ins["alias"].dataType
        schema = StructType(
            [StructField("curie", key), StructField("rep", key), ins["node_type"], ins["name"]]
        )
        return normalization.sparkSession.createDataFrame(
            [(curie, rep, *meta[rep]) for curie, rep in sorted(rep_map.items())], schema
        )
    reps = connected_components(
        normalization,
        src="alias",
        dst="canonical",
        manager=manager if cc_commit_every > 0 else None,
        stage=cc_stage,
        commit_every=cc_commit_every,
        stats=stats,
    )
    meta_df = (
        normalization.select(F.col("alias").alias("curie"), "node_type", "name")
        .join(reps, "curie")
        .groupBy("rep")
        .agg(F.min("node_type").alias("node_type"), F.min("name").alias("name"))
    )
    return reps.join(meta_df, "rep").select("curie", "rep", "node_type", "name")


def _broadcast_budget_bytes(spark) -> int:
    """The session's autoBroadcastJoinThreshold in bytes (-1 → disabled),
    as the JVM's SQLConf parses it."""
    return int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for a DataFrame (file-size based for
    parquet-backed stages — exactly what the broadcast planner would see)."""
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def _fits_broadcast(df: DataFrame) -> bool:
    """Whether df's measured Catalyst size fits the session broadcast
    budget — the one broadcast-or-shuffle test of this module."""
    budget = _broadcast_budget_bytes(df.sparkSession)
    return budget > 0 and _plan_size_bytes(df) <= budget


def maybe_broadcast(df: DataFrame):
    """F.broadcast(df) while the measured Catalyst size fits the session
    broadcast budget; otherwise return df unhinted and let AQE pick the
    strategy from runtime stats. For joins whose small side scales with the
    ENTITY graph (rep metadata, equivalent-identifier sets, authority
    labels): dimension-sized today, but at web scale they grow with the
    ontology (10^7-10^8 reps) and a hard hint would OOM the driver."""
    return F.broadcast(df) if _fits_broadcast(df) else df


def resolve_aliases(
    fact: DataFrame,
    rep_map: DataFrame,
    key: str,
    out: str = "rep",
) -> DataFrame:
    """Map fact[key] (a CURIE) to its canonical representative `out`; a key
    absent from rep_map(curie, rep, ...) stands for itself. Every other
    rep_map column rides along on the same join (null for absent keys), so
    component metadata needs no second join.

    The join side follows the rep map's measured size: broadcast while its
    Catalyst size estimate fits the session's autoBroadcastJoinThreshold
    (no shuffle, no skew possible). Above it — at 100 TB the alias map can
    outgrow the budget mid-pipeline, and a hard-coded hint would either OOM
    the driver or shuffle-join with hub-key skew — a salted shuffle join:
    the map is replicated ×_NSALT and fact rows of one hot key (hub entity)
    are spread over the salt buckets by a hash of the whole row, so no
    single shuffle partition owns a hub (SURVEY.md §4 custom piece #1). AQE
    skew-join remains the backstop. A map with no size estimate (in-memory)
    takes the salted side.
    """
    mapped = rep_map.select(
        F.col("curie").alias("__alias"),
        F.col("rep").alias(out),
        *[c for c in rep_map.columns if c not in ("curie", "rep")],
    )
    if _fits_broadcast(mapped):
        joined = fact.join(F.broadcast(mapped), fact[key] == F.col("__alias"), "left")
    else:
        salted_map = mapped.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(_NSALT - 1)))
        )
        fact_s = fact.withColumn(
            "__salt", F.pmod(F.xxhash64(*fact.columns), F.lit(_NSALT)).cast("int")
        )
        joined = fact_s.join(
            salted_map,
            (fact_s[key] == F.col("__alias")) & (fact_s["__salt"] == salted_map["__salt"]),
            "left",
        ).drop("__salt")
    return joined.withColumn(out, F.coalesce(F.col(out), fact[key])).drop("__alias")
