"""Connected-components (large-star/small-star) unit tests: chains, rings,
hubs, long chains — deterministic min representative at any parallelism
(reference analog: KnowledgeGraph.merge, builder/builder.py:136-167)."""

import pytest

from robokop_build_spark.operators import canonicalize
from robokop_build_spark.operators.canonicalize import (
    connected_components,
    resolve_aliases,
)

pytestmark = pytest.mark.parametrize("side", ["local", "distributed"], indirect=True)


@pytest.fixture
def side(request, monkeypatch):
    """The CC side under test: 'distributed' lowers the measured-size gate
    below any input, so even a tiny edge list takes the star loop."""
    if request.param == "distributed":
        monkeypatch.setattr(canonicalize, "LOCAL_CC_MAX_EDGES", -1)
    return request.param


def _cc(spark, pairs):
    df = spark.createDataFrame(pairs, ["src", "dst"])
    return {r["curie"]: r["rep"] for r in connected_components(df).collect()}


def test_chain(spark, side):
    got = _cc(spark, [("B", "C"), ("C", "D"), ("A", "B")])
    assert got == {"A": "A", "B": "A", "C": "A", "D": "A"}


def test_ring(spark, side):
    got = _cc(spark, [("X", "Y"), ("Y", "Z"), ("Z", "X")])
    assert got == {"X": "X", "Y": "X", "Z": "X"}


def test_two_components_and_selfloop(spark, side):
    got = _cc(spark, [("A", "B"), ("C", "C"), ("D", "C")])
    assert got == {"A": "A", "B": "A", "C": "C", "D": "C"}


def test_long_chain_converges_logarithmically(spark, side):
    n = 40
    pairs = [(f"N{i:03d}", f"N{i + 1:03d}") for i in range(n)]
    got = _cc(spark, pairs)
    assert set(got.values()) == {"N000"}
    assert len(got) == n + 1


def test_hub_star(spark, side):
    pairs = [(f"ALIAS:{i:04d}", "HUB:0") for i in range(200)]
    got = _cc(spark, pairs)
    assert all(v == "ALIAS:0000" for v in got.values())


def test_resolve_aliases_broadcast_vs_salted(spark, side, tmp_path):
    # parquet-backed map: sized, so it broadcasts under the session budget;
    # a -1 budget sends the same map down the salted side
    spark.createDataFrame(
        [("a1", "R"), ("a2", "R"), ("b1", "S")], ["curie", "rep"]
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "rep_map"))
    rep_map = spark.read.parquet(str(tmp_path / "rep_map"))
    fact = spark.createDataFrame(
        [("d1", "a1"), ("d2", "a2"), ("d3", "b1"), ("d4", "zz")], ["doc_id", "curie"]
    )
    want = {("d1", "R"), ("d2", "R"), ("d3", "S"), ("d4", "zz")}
    out_b = resolve_aliases(fact, rep_map, "curie")
    got_b = {(r["doc_id"], r["rep"]) for r in out_b.collect()}
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out_s = resolve_aliases(fact, rep_map, "curie")
        got_s = {(r["doc_id"], r["rep"]) for r in out_s.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "__salt" not in out_b._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in out_s._jdf.queryExecution().executedPlan().toString()
    assert got_b == want
    assert got_s == want


def test_resolve_aliases_auto_flips_strategy_without_output_change(spark, side, tmp_path):
    """resolve_aliases must broadcast a small map and switch to the salted
    shuffle when the map's Catalyst size estimate exceeds the session
    broadcast budget — identical output either way (VERDICT r3 item 5).
    Parametrized `side` reused as the budget axis: 'local'→roomy,
    'distributed'→tiny."""
    from robokop_build_spark.operators.canonicalize import resolve_aliases

    # parquet-backed map, as in the pipeline (checkpointed rep_map stage):
    # Catalyst's file-size stats are what the join-side decision reads; an
    # in-memory ExistingRDD has no real size estimate and goes salted
    spark.createDataFrame(
        [(f"A:{i}", f"R:{i % 10}") for i in range(500)], ["curie", "rep"]
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "rep_map"))
    rep_map = spark.read.parquet(str(tmp_path / "rep_map"))
    fact = spark.createDataFrame(
        [(f"d{i}", f"A:{i % 500}") for i in range(2000)], ["doc_id", "curie"]
    )
    budget = "10MB" if side == "local" else "1b"
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", budget)
    try:
        out = resolve_aliases(fact, rep_map, "curie")
        plan = out._jdf.queryExecution().executedPlan().toString()
        rows = sorted((r["doc_id"], r["rep"]) for r in out.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    want = sorted(
        (f"d{i}", f"R:{(i % 500) % 10}") for i in range(2000)
    )
    assert rows == want
    if side == "local":
        assert "BroadcastHashJoin" in plan
        assert "__salt" not in plan
    else:
        assert "__salt" in plan  # salted path engaged under a tiny budget


def test_maybe_broadcast_budget_gate(spark, side, tmp_path):
    """maybe_broadcast hints only inside the session budget (parametrized
    `side` reused as the budget axis)."""
    from robokop_build_spark.operators.canonicalize import maybe_broadcast

    spark.createDataFrame([("a", 1)], ["k", "v"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "t"))
    small = spark.read.parquet(str(tmp_path / "t"))
    fact = spark.createDataFrame([("a", i) for i in range(100)], ["k", "x"])
    budget = "10MB" if side == "local" else "1b"
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", budget)
    try:
        plan = (
            fact.join(maybe_broadcast(small), "k")
            ._jdf.queryExecution()
            .analyzed()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    if side == "local":
        assert "ResolvedHint" in plan
    else:
        assert "ResolvedHint" not in plan


def test_canonical_map_null_rows_match_across_sides(spark, side):
    """A null alias/canonical adds no edge and null metadata is ignored by
    the per-component min — on both sides."""
    from robokop_build_spark.operators.canonicalize import canonical_map

    norm = spark.createDataFrame(
        [
            ("A", "B", "gene", "alpha"),
            ("B", "C", None, "beta"),
            ("C", None, "disease", None),  # no edge, metadata still counts
            (None, "D", "gene", "delta"),  # no edge, no member
            ("E", "E", None, None),
        ],
        "alias string, canonical string, node_type string, name string",
    )
    got = sorted(tuple(r) for r in canonical_map(norm).collect())
    assert got == [
        ("A", "A", "disease", "alpha"),
        ("B", "A", "disease", "alpha"),
        ("C", "A", "disease", "alpha"),
        ("E", "E", None, None),
    ]


@pytest.mark.parametrize("key_type", ["string", "bigint"])
def test_empty_input_gives_empty_typed_frame(spark, side, key_type):
    from robokop_build_spark.operators.canonicalize import canonical_map

    def cols(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    edges = spark.createDataFrame([], f"src {key_type}, dst {key_type}")
    cc = connected_components(edges)
    assert cc.collect() == []
    assert cols(cc) == [("curie", key_type), ("rep", key_type)]
    norm = spark.createDataFrame(
        [], f"alias {key_type}, canonical {key_type}, node_type string, name string"
    )
    cm = canonical_map(norm)
    assert cm.collect() == []
    assert cols(cm) == [
        ("curie", key_type), ("rep", key_type), ("node_type", "string"), ("name", "string")
    ]


def test_canonical_map_matches_oracle(spark, side, fixture_dir):
    """Representatives from the oracle's union-find; node_type and name are
    the per-component min over the component's normalization rows."""
    import pyarrow.parquet as pq

    from robokop_build_spark.datagen.oracle import build_canonical_map
    from robokop_build_spark.operators.canonicalize import canonical_map

    path = f"{fixture_dir}/normalization.parquet"
    cols = ("alias", "canonical", "node_type", "name")
    tbl = pq.read_table(path)
    norm = list(zip(*(tbl.column(c).to_pylist() for c in cols)))
    reps = build_canonical_map(norm)
    meta: dict[str, tuple[str, str]] = {}
    for alias, _, node_type, name in norm:
        rep = reps[alias]
        cur = meta.get(rep, (node_type, name))
        meta[rep] = (min(cur[0], node_type), min(cur[1], name))
    want = sorted((c, r, *meta[r]) for c, r in reps.items())

    got = sorted(tuple(r) for r in canonical_map(spark.read.parquet(path)).collect())
    assert got == want
