"""At-size / determinism gates for the DISTRIBUTED connected-components
path over the SF-scalable synthetic synonym graph (datagen/graphs.py).
The standard corpora solve under the 2M-edge local gate, so these are
the only tests that exercise large-star/small-star semantics at any
interesting diameter/skew (VERDICT r3 item 4). They lower that gate
below the input so the distributed side runs."""


def test_distributed_cc_on_synthetic_graph_matches_closed_form(spark, monkeypatch):
    """Distributed large-star/small-star CC over the SF-scalable synonym
    graph must produce the closed-form representatives (chains + shortcuts
    + one giant hub-skewed component) — a fully distributed check, no
    driver ground truth (VERDICT r3 item 4)."""
    from pyspark.sql import functions as F

    from robokop_build_spark.datagen.graphs import expected_rep_col, synonym_graph
    from robokop_build_spark.operators import canonicalize
    from robokop_build_spark.operators.canonicalize import connected_components

    monkeypatch.setattr(canonicalize, "LOCAL_CC_MAX_EDGES", -1)
    edges = synonym_graph(spark, 20_000, block=64, hub_stride=50)
    reps = connected_components(edges)
    mism = reps.filter(
        F.col("rep") != expected_rep_col(F.col("curie"), block=64, hub_stride=50)
    ).count()
    assert mism == 0
    assert reps.count() == 20_000  # every node mapped (incl. singletons' absence: all nodes appear in edges here)


def test_distributed_cc_deterministic_across_parallelism(spark, monkeypatch):
    """Identical (curie, rep) output regardless of input partitioning /
    parallelism — min-member representatives are order-free by
    construction; this guards against any nondeterministic tie-break
    sneaking into the fixpoint loop."""
    from robokop_build_spark.datagen.graphs import synonym_graph
    from robokop_build_spark.operators import canonicalize
    from robokop_build_spark.operators.canonicalize import connected_components

    edges = synonym_graph(spark, 6_000, block=32, hub_stride=20)
    local = sorted(map(tuple, connected_components(edges).collect()))
    monkeypatch.setattr(canonicalize, "LOCAL_CC_MAX_EDGES", -1)
    a = connected_components(edges.repartition(3))
    b = connected_components(edges.repartition(31))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # the driver union-find side agrees with the star loop
    assert sorted(map(tuple, a.collect())) == local
