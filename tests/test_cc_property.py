"""Property-based check of connected_components: on random small graphs,
iterative label propagation must agree with a driver-side union-find."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st


def _union_find(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    # canonical label = min node of each component
    comp_min = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[find(n)] for n in parent}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """BOTH execution paths (r12: the driver union-find fast path is the
    default under the edge cap; driver_edge_cap=0 forces the distributed
    label-propagation loop) must agree with the reference union-find —
    without the explicit cap=0 leg this test would compare union-find to
    union-find and stop covering the loop at all."""
    from sqlite_to_clickhouse_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, "src: long, dst: long")
    want = _union_find(edges)
    got_driver = {
        r.node: r.component_id for r in connected_components(df).collect()
    }
    got_loop = {
        r.node: r.component_id
        for r in connected_components(df, driver_edge_cap=0).collect()
    }
    assert got_driver == want
    assert got_loop == want


def test_cc_driver_and_loop_agree_on_string_nodes(spark):
    """The driver fast path orders labels with Python string comparison,
    the loop with Spark's UTF8 binary comparison — these coincide because
    UTF-8 byte order preserves codepoint order.  Pinned on names that
    would expose a divergence if it existed (ASCII mixed with multi-byte
    codepoints sorting after all ASCII)."""
    from sqlite_to_clickhouse_spark.operators.dedup import connected_components

    edges = [
        ("anchor brass", "anchor brassy"),
        ("anchor brassy", "ànchor brass"),   # multi-byte first char
        ("zebra", "Ω-node"),                 # Greek after all ASCII
        ("café", "cafe"),
        ("solo-a", "solo-b"),
    ]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    driver = sorted(
        (r.node, r.component_id) for r in connected_components(df).collect()
    )
    loop = sorted(
        (r.node, r.component_id)
        for r in connected_components(df, driver_edge_cap=0).collect()
    )
    assert driver == loop
    # closed form: {anchor*, ànchor*} one component labeled by the ASCII
    # min; {zebra, Ω-node} labeled "zebra"? No — "zebra" < "Ω-node" in
    # codepoint order (U+03A9 > 'z'), so "zebra" is the label.
    comp = dict(driver)
    assert comp["Ω-node"] == "zebra"
    assert comp["ànchor brass"] == "anchor brass"


def test_cc_byte_cap_forces_the_loop(spark, monkeypatch):
    """r13 (VERDICT r12 item 9): the driver collect is bounded in
    estimated BYTES as well as rows — long string names must not ride
    the fast path just because the edge count is small.  A tiny byte cap
    forces the distributed loop (bit-identical labels); a roomy one
    takes the driver path; cap=0 disables the driver path outright
    (ADVICE r12: an empty/tiny graph must not satisfy a disabled cap)."""
    from sqlite_to_clickhouse_spark.operators import dedup as D
    from sqlite_to_clickhouse_spark.operators.dedup import connected_components

    edges = [("aa" * 50, "bb" * 50), ("bb" * 50, "cc" * 50), ("x", "y")]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    want = {r.node: r.component_id for r in connected_components(df).collect()}

    monkeypatch.setattr(D, "_CC_DRIVER_BYTES", 64)  # < one edge row
    got_loop = {r.node: r.component_id for r in connected_components(df).collect()}
    assert got_loop == want

    monkeypatch.setattr(D, "_CC_DRIVER_BYTES", 0)  # 0 disables too
    got_disabled = {
        r.node: r.component_id for r in connected_components(df).collect()
    }
    assert got_disabled == want


def test_bucket_pairs_equals_band_self_join(spark):
    """r13: the LSH candidate generation was restructured from a
    two-legged band self-join into one bucket groupBy + in-bucket pair
    expansion (_bucket_pairs).  Pin the equivalence on an adversarial
    band relation: duplicate (id, bk) rows (a doc colliding in two bands
    on the same key), multi-doc buckets, singleton buckets, and a NULL
    band key (which SQL join equality drops)."""
    import pyspark.sql.functions as F

    from sqlite_to_clickhouse_spark.operators.dedup import _bucket_pairs

    rows = [
        (1, 10), (2, 10), (3, 10),          # 3-doc bucket
        (4, 20), (5, 20),                   # 2-doc bucket
        (6, 30),                            # singleton
        (7, 40), (7, 40), (8, 40),          # duplicate (id, bk) rows
        (9, None), (10, None),              # NULL keys never pair
        (1, 50), (5, 50),                   # cross-bucket second collision
    ]
    bands = spark.createDataFrame(rows, "__id: long, bk: long")
    a, b = bands.alias("a"), bands.alias("b")
    want = sorted(
        set(
            (r.id_a, r.id_b)
            for r in a.join(
                b,
                (F.col("a.bk") == F.col("b.bk"))
                & (F.col("a.__id") < F.col("b.__id")),
            )
            .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
            .collect()
        )
    )
    got = sorted(
        set((r.id_a, r.id_b) for r in _bucket_pairs(bands).collect())
    )
    assert got == want and (1, 5) in got and (7, 8) in got
