"""The one min-label union-find (operators.chains.MinLabelUnionFind) and
update_clusters' two edge paths (raw collect vs spanning-edge guard)."""

import random


def _bfs_min_labels(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for v in adj:
        if v in out:
            continue
        comp, stack = {v}, [v]
        while stack:
            for w in adj[stack.pop()] - comp:
                comp.add(w)
                stack.append(w)
        lo = min(comp)
        out.update((w, lo) for w in comp)
    return out


def test_union_find_roots_are_component_minima():
    from osm2mp_spark.operators.chains import MinLabelUnionFind

    rng = random.Random(7)
    for _ in range(20):
        n = rng.randint(1, 60)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(0, 2 * n))
        ]
        uf = MinLabelUnionFind()
        for a, b in edges:
            uf.union(a, b)
        assert {v: uf.find(v) for v in uf.parent} == _bfs_min_labels(edges)
    uf = MinLabelUnionFind()
    assert uf.find(42) == 42 and uf.parent == {42: 42}


def _fold_both_paths(spark, tmp_path, batches):
    """Run the same batches through update_clusters under the raw-collect
    path (driverMaxEdges = 10⁹) and the spanning-edge guard path (= 0);
    return (folds, resolved labels, forwarding rows) per path."""
    import glob

    import pandas as pd

    from osm2mp_spark.operators.chains import _DRIVER_EDGES_CONF
    from osm2mp_spark.streaming.clusters import read_labels, update_clusters

    out = {}
    try:
        for max_edges in (10**9, 0):
            spark.conf.set(_DRIVER_EDGES_CONF, str(max_edges))
            root = str(tmp_path / f"clusters_{max_edges}")
            folds = []
            for bid, edges in enumerate(batches):
                df = spark.createDataFrame(
                    pd.DataFrame(edges, columns=["id_a", "id_b"])
                )
                folds.append(update_clusters(
                    spark, root, bid, df,
                    "CAST(id_a AS BIGINT)", "CAST(id_b AS BIGINT)",
                ))
            labels = sorted(
                (int(r.vertex), int(r.label))
                for r in read_labels(spark, root).collect()
            )
            fwd = sorted(
                (int(r.from_label), int(r.to_label))
                for d in sorted(glob.glob(f"{root}/forward/batch=*"))
                for r in pd.read_parquet(d).itertuples()
            )
            out[max_edges] = (folds, labels, fwd)
    finally:
        spark.conf.unset(_DRIVER_EDGES_CONF)
    return out


def test_self_loop_pair_folds_identically_on_both_paths(spark, tmp_path):
    # batch 0 holds the (7, 7) self-loop: vertex 7 is its own root and
    # must be stored on both paths; batch 1 then merges root 7 into 2
    # (a forwarding row 7 → 2 only if 7 was stored)
    batches = [
        [(5, 9), (7, 7)],
        [(9, 3), (7, 7), (20, 7), (2, 20)],
    ]
    got = _fold_both_paths(spark, tmp_path, batches)
    assert got[0] == got[10**9]
    folds, labels, fwd = got[0]
    assert folds[0]["touched"] == [5, 7, 9]
    assert labels == [
        (2, 2), (3, 3), (5, 3), (7, 2), (9, 3), (20, 2),
    ]
    assert fwd == [(5, 3), (7, 2)]
