"""Catalog driver path: byte-identity with the distributed path.

While its mirrors are live and the index fits the driver budget, the
catalog runs its inserts on the driver (see the ``plans.catalog`` module
docstring). Each test here runs a pipeline both ways, or compares a mirror
with its table, and asserts the catalog content is identical:

- the j7b linked DAG (two sources, dedupe resolvers, a linker and a
  stacked resolver) on both paths, and every mirror against its table;
- source inserts whose hashes overlap (the mirror reuses existing ids);
- a resolver parent with no member in ``clusters``;
- the streaming delta loop (index delta, edge delta, claim merge);
- the mirror-native ``resolver_assignments`` against the join;
- the packed edge mirror against the structured one.
"""

from pyspark.sql import functions as F


def _linked_catalog(spark, sf_dir):
    """The j7b linked-DAG shape: two sources, per-source dedupe resolvers,
    a cross-source linker, a stacked top resolver."""
    from matchbox_spark.operators.dedupers import NaiveDeduper
    from matchbox_spark.operators.linkers import DeterministicLinker
    from matchbox_spark.plans.catalog import Catalog
    from matchbox_spark.plans.dag import DAG
    from matchbox_spark.plans.query import QueryConfig
    from matchbox_spark.plans.resolvers import Components
    from matchbox_spark.sources.source import SourceConfig

    dag = DAG(spark, Catalog(spark))
    custx = SourceConfig(
        name="custx",
        location=f"{sf_dir}/customer.parquet",
        key_field="c_custkey",
        index_fields=["c_name", "c_nationkey", "c_mktsegment"],
    )
    suppx = SourceConfig(
        name="suppx",
        location=f"{sf_dir}/supplier.parquet",
        key_field="s_suppkey",
        index_fields=["s_name", "s_nationkey"],
    )
    dag.source(custx)
    dag.source(suppx)
    dag.model(
        "dedupe_cust",
        NaiveDeduper(
            id="id", unique_fields=["custx_c_nationkey", "custx_c_mktsegment"]
        ),
        QueryConfig(sources=[custx]),
    )
    dag.resolver("resolve_cust", Components(method="auto"), ["dedupe_cust"])
    dag.model(
        "dedupe_supp",
        NaiveDeduper(id="id", unique_fields=["suppx_s_nationkey"]),
        QueryConfig(sources=[suppx]),
    )
    dag.resolver("resolve_supp", Components(method="auto"), ["dedupe_supp"])
    dag.model(
        "link_cs",
        DeterministicLinker(
            left_id="id",
            right_id="id",
            comparisons=[
                "l.custx_c_nationkey = r.suppx_s_nationkey "
                "AND l.custx_c_mktsegment = 'BUILDING'"
            ],
        ),
        QueryConfig(sources=[custx], resolvers=["resolve_cust"]),
        QueryConfig(sources=[suppx], resolvers=["resolve_supp"]),
    )
    dag.resolver("resolve_link", Components(method="auto"), ["link_cs"])
    dag.run()
    return dag


def _catalog_state(cat):
    """Canonical content of every catalog table + step fingerprints."""
    state = {"steps": {k: v.get("fingerprint") for k, v in cat.steps.items()}}
    for name in cat._table_names():
        df = getattr(cat, name)
        rows = [
            tuple(
                v.hex() if isinstance(v, (bytes, bytearray)) else v
                for v in r
            )
            for r in df.collect()
        ]
        state[name] = sorted(rows)
    state["max_id"] = cat._max_id
    return state


def test_local_and_distributed_catalog_paths_byte_identical(
    spark, sf_dir, monkeypatch
):
    # local paths live (default): mirrors survive the whole pipeline
    local_dag = _linked_catalog(spark, sf_dir)
    assert local_dag.catalog._driver_cluster_hashes is not None
    assert local_dag.catalog._driver_contains is not None
    local_state = _catalog_state(local_dag.catalog)

    # force every insert through the distributed branches
    monkeypatch.setenv("MATCHBOX_SPARK_INDEX_DRIVER_BYTES", "0")
    dist_dag = _linked_catalog(spark, sf_dir)
    assert dist_dag.catalog._driver_cluster_hashes is None
    dist_state = _catalog_state(dist_dag.catalog)

    assert local_state == dist_state


def test_contains_mirror_matches_table(spark, sf_dir):
    dag = _linked_catalog(spark, sf_dir)
    cat = dag.catalog
    mirror = cat._driver_contains
    table = {}
    for r in cat.contains.collect():
        table.setdefault(r["root"], []).append(r["leaf"])
    assert mirror == {k: tuple(sorted(v)) for k, v in table.items()}
    cmirror = cat._driver_cluster_hashes
    rows = {r["cluster_id"]: bytes(r["cluster_hash"]) for r in cat.clusters.collect()}
    assert cmirror == rows
    # the shared driver cores keep the keys and claim mirrors complete on
    # the batch path too (a mirror entry may be an empty set: a resolver
    # step that claims nothing still registers)
    assert cat._driver_step_keys is not None
    keys = {step: set() for step in cat._driver_step_keys}
    for r in cat.cluster_keys.collect():
        keys.setdefault(r["source"], set()).add((r["cluster_id"], r["key"]))
    assert cat._driver_step_keys == keys
    assert cat._driver_rc is not None
    claims = {step: set() for step in cat._driver_rc}
    for r in cat.resolver_clusters.collect():
        claims.setdefault(r["step"], set()).add(r["cluster_id"])
    assert cat._driver_rc == claims


def _overlap_catalogs(spark):
    """Two source inserts whose index HASHES overlap (h2, h3 shared):
    the second insert must reuse the existing cluster ids for the shared
    hashes and only mint ids for the new one — the rev-lookup branch of
    the mirror path that distinct-field pipelines never exercise."""
    import hashlib

    import pandas as pd

    from matchbox_spark.plans.catalog import Catalog

    def digest(s):
        return hashlib.sha256(s.encode()).digest()

    def index(rows):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "hash": [digest(h) for h, _ in rows],
                    "keys": [list(k) for _, k in rows],
                }
            ),
            "hash binary, keys array<string>",
        )

    cat = Catalog(spark)
    cat.insert_source_index(
        "srcA", index([("h1", ["a1"]), ("h2", ["a2", "a2x"]), ("h3", ["a3"])])
    )
    cat.insert_source_index(
        "srcB", index([("h2", ["b2"]), ("h3", ["b3"]), ("h4", ["b4"])])
    )
    return cat


def test_overlapping_hash_insert_local_matches_distributed(spark, monkeypatch):
    local = _overlap_catalogs(spark)
    assert local._driver_cluster_hashes is not None  # stayed on the mirror path
    local_state = _catalog_state(local)
    assert len(local_state["clusters"]) == 4  # h2/h3 reused, only h4 minted

    monkeypatch.setenv("MATCHBOX_SPARK_INDEX_DRIVER_BYTES", "0")
    dist = _overlap_catalogs(spark)
    assert dist._driver_cluster_hashes is None
    assert local_state == _catalog_state(dist)


def test_zero_member_parent_matches_distributed(spark):
    """A resolver parent none of whose children is in ``clusters`` has no
    H5 root on the distributed path (its member-hash inner join is empty),
    so the driver path must drop it too instead of minting a cluster for
    the hash of the empty member set."""
    import hashlib

    import pandas as pd

    from matchbox_spark.plans.catalog import Catalog

    def run(driver_path):
        cat = Catalog(spark)
        cat.insert_source_index(
            "src",
            spark.createDataFrame(
                pd.DataFrame(
                    {
                        "hash": [hashlib.sha256(h).digest() for h in (b"h1", b"h2")],
                        "keys": [["k1"], ["k2"]],
                    }
                ),
                "hash binary, keys array<string>",
            ),
        )
        if not driver_path:
            cat._driver_contains = None  # forces the distributed insert
        apdf = pd.DataFrame(
            {
                "parent_id": pd.array([100, 100, 200, 200], dtype="int64"),
                "child_id": pd.array([1, 2, 998, 999], dtype="int64"),
            }
        )
        assignments = spark.createDataFrame(
            apdf, "parent_id long, child_id long"
        )
        assignments._mb_local_pdf = apdf
        cat.insert_resolver_clusters("r", assignments, fingerprint=b"fp")
        return cat

    local = run(driver_path=True)
    assert local._driver_contains is not None  # stayed on the driver path
    local_state = _catalog_state(local)
    dist = run(driver_path=False)
    assert local._driver_cluster_hashes is not None
    assert dist._driver_cluster_hashes is None
    assert local_state == _catalog_state(dist)
    assert local_state["max_id"] == 3
    assert local_state["resolver_clusters"] == [("r", 3)]


def _delta_stream_catalog(spark, tmp_path, name):
    """st7's shape in miniature: 3 micro-batches through the delta-link
    loop (index delta → blocked superset → model → edge delta → star
    union → CC → claim merge), including a cross-batch merge so the
    tombstone path fires."""
    from matchbox_spark.operators.dedupers import NaiveDeduper
    from matchbox_spark.plans.catalog import Catalog
    from matchbox_spark.plans.resolvers import Components
    from matchbox_spark.streaming.incremental import incremental_resolve_stream

    schema = "k long, a string, u string"
    batches = [
        [(1, "A1", "u1"), (2, "A1", "u2"), (10, "Z1", "u10")],
        [(3, "A2", "u3"), (4, "A2", "u4"), (11, "Z1", "u11")],
        [(5, "A1", "u5"), (6, "A2", "u6")],
    ]
    data_dir = tmp_path / f"data_{name}"
    data_dir.mkdir()
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(data_dir))
    cat = Catalog(spark)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(data_dir))
    )
    q = incremental_resolve_stream(
        stream,
        cat,
        source_step="s",
        key_field="k",
        index_fields=["a", "u"],
        model=NaiveDeduper(id="id", unique_fields=["s_a"]),
        resolver_method=Components(method="auto"),
        checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
        source_location=str(data_dir),
    )
    q.awaitTermination(600)
    return cat


def test_streaming_delta_twins_byte_identical_to_distributed(
    spark, tmp_path, monkeypatch
):
    """The driver paths of the streaming delta inserts (the index delta and
    the claim merge over the shared _mint_clusters_local /
    _hierarchy_insert_local cores, insert_model_edges_delta's mirror path,
    the driver star edges and the pandas CC shortcut) produce a
    byte-identical catalog to the distributed loop."""
    local = _delta_stream_catalog(spark, tmp_path, "twin")
    cat = local
    assert cat._driver_cluster_hashes is not None  # twins stayed live
    assert cat._driver_step_keys is not None
    assert cat._driver_rc is not None
    assert cat._driver_step_edges is not None
    local_state = _catalog_state(cat)

    # mirror completeness: each mirror equals its table / view
    keys_rows = {
        (r["cluster_id"], r["key"])
        for r in cat.cluster_keys.where(F.col("source") == "s").collect()
    }
    assert cat._driver_step_keys["s"] == keys_rows
    rc_rows = {
        r["cluster_id"]
        for r in cat.resolver_clusters.where(
            F.col("step") == "s_resolve"
        ).collect()
    }
    assert cat._driver_rc["s_resolve"] == rc_rows
    edge_rows = {
        (r["left_id"], r["right_id"])
        for r in cat.model_edges.where(F.col("step") == "s_model").collect()
    }
    import numpy as np

    acc = cat._driver_step_edges["s_model"]
    if acc.dtype == np.uint64:
        # r14 mirror format: packed (l << 32) | r keys while ids fit 32 bits
        mirror_pairs = {
            (int(v >> np.uint64(32)), int(v & np.uint64(0xFFFFFFFF)))
            for v in acc
        }
    else:
        mirror_pairs = {(int(p["l"]), int(p["r"])) for p in acc}
    assert mirror_pairs == edge_rows

    # force the legacy distributed loop end to end and compare
    monkeypatch.setenv("MATCHBOX_SPARK_INDEX_DRIVER_BYTES", "0")
    monkeypatch.setenv("MATCHBOX_SPARK_CC_EDGE_LIMIT", "0")
    dist = _delta_stream_catalog(spark, tmp_path, "dist")
    assert dist._driver_cluster_hashes is None  # loop went distributed
    assert local_state == _catalog_state(dist)


def test_resolver_assignments_mirror_path_matches_join(spark, sf_dir):
    """The mirror-native resolver_assignments (one LocalRelation built
    from the claim + contains mirrors, replacing the contains⋈claims join
    whose broadcast-semi pushdown below the part-Union went quadratic on
    deep lineages) returns exactly the join path's rows."""
    from matchbox_spark.plans.query import resolver_assignments

    dag = _linked_catalog(spark, sf_dir)
    cat = dag.catalog
    assert cat._driver_rc is not None
    nonempty = 0
    for step in ("resolve_cust", "resolve_supp", "resolve_link"):
        # EVERY driver-path resolver insert registers its step — including
        # a legitimately empty one (sf0.001's dedupe_supp yields zero pairs,
        # so resolve_supp claims nothing); an absent key would push the
        # step onto the join fallback forever
        assert step in cat._driver_rc
        mirror_rows = {
            (r.leaf_id, r.root_id)
            for r in resolver_assignments(cat, step).collect()
        }
        saved = cat._driver_rc
        cat._driver_rc = None
        join_rows = {
            (r.leaf_id, r.root_id)
            for r in resolver_assignments(cat, step).collect()
        }
        cat._driver_rc = saved
        assert mirror_rows == join_rows
        nonempty += bool(mirror_rows)
    # the mirror path must be exercised with real rows somewhere
    assert nonempty >= 2


def test_edge_mirror_packed_matches_structured(spark, tmp_path):
    """insert_model_edges_delta's packed-uint64 mirror must anti-join
    replayed pairs exactly like the structured representation."""
    import numpy as np
    import pandas as pd

    from matchbox_spark.plans.catalog import Catalog

    cat = Catalog(spark)

    def edges(rows):
        pdf = pd.DataFrame(
            {
                "left_id": pd.array([r[0] for r in rows], dtype="int64"),
                "right_id": pd.array([r[1] for r in rows], dtype="int64"),
                "score": pd.array([1.0] * len(rows), dtype="float32"),
            }
        )
        df = spark.createDataFrame(
            pdf, "left_id long, right_id long, score float"
        )
        df._mb_local_pdf = pdf
        return df

    cat.insert_model_edges_delta("m", edges([(1, 2), (3, 4)]))
    acc = cat._driver_step_edges["m"]
    assert acc.dtype == np.uint64  # small ids pack
    # replay + one new pair: only the new pair appends
    cat.insert_model_edges_delta("m", edges([(1, 2), (5, 6)]))
    got = {
        (r["left_id"], r["right_id"])
        for r in cat.model_edges.where(F.col("step") == "m").collect()
    }
    assert got == {(1, 2), (3, 4), (5, 6)}
    # an id past 32 bits unpacks the mirror and keeps answering correctly
    big = 1 << 40
    cat.insert_model_edges_delta("m", edges([(big, big + 1), (1, 2)]))
    acc = cat._driver_step_edges["m"]
    assert acc.dtype != np.uint64
    got = {
        (r["left_id"], r["right_id"])
        for r in cat.model_edges.where(F.col("step") == "m").collect()
    }
    assert got == {(1, 2), (3, 4), (5, 6), (big, big + 1)}
    # replay after the unpack still appends nothing
    cat.insert_model_edges_delta("m", edges([(big, big + 1), (3, 4)]))
    assert (
        cat.model_edges.where(F.col("step") == "m").count() == 4
    )
