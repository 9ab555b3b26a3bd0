"""K-means partitioner: determinism, invariants, and the recall payoff —
IVF search over k-means partitions must beat the arbitrary-label routing
(measured ~0.2–0.3) by a wide margin."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.window import Window

from olap_db_spark.catalog import load
from olap_db_spark.operators._vector import cosine_q, dot_q, norm2_q, quantize
from olap_db_spark.operators.kmeans import kmeans_fit_assign
from olap_db_spark.operators.similarity import sim_knn_bruteforce

SF = "/root/testdata/sf0.01"


def test_kmeans_deterministic_and_total(spark):
    a = {r["vec_id"]: r["cluster"] for r in kmeans_fit_assign(spark, SF).collect()}
    b = {r["vec_id"]: r["cluster"] for r in kmeans_fit_assign(spark, SF).collect()}
    assert a == b, "k-means not deterministic across runs"
    assert len(a) == 500 and all(0 <= c < 16 for c in a.values())


def test_ivf_kmeans_recall_beats_label_routing(spark):
    """Search restricted to the query's nprobe=3 nearest k-means cluster
    centroids must recover most of the exact top-5."""
    assigned = kmeans_fit_assign(spark, SF)
    vecs = (
        load(spark, SF, "embeddings")
        .select("vec_id", quantize(F.col("embedding")).alias("qv"))
        .withColumn("n2", norm2_q(F.col("qv")))
        .join(assigned, "vec_id")
    )
    # centroid per cluster (exact sum vectors — scale-invariant for cosine)
    pos = vecs.select("cluster", F.posexplode("qv").alias("d", "v"))
    cent = (
        pos.groupBy("cluster", "d")
        .agg(F.sum("v").alias("sv"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("d", "sv"))).alias("ds"))
        .select("cluster", F.transform("ds", lambda s: s["sv"]).alias("cv"))
        .withColumn("cn2", norm2_q(F.col("cv")))
    )
    queries = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qv_q"),
        F.col("n2").alias("n2_q"),
    )
    w_route = Window.partitionBy("query_id").orderBy(
        F.col("rc").desc(), F.col("cluster")
    )
    routed = (
        queries.crossJoin(F.broadcast(cent))
        .withColumn(
            "rc", cosine_q(dot_q(F.col("qv_q"), F.col("cv")), F.col("n2_q"), F.col("cn2"))
        )
        .withColumn("rn", F.row_number().over(w_route))
        .filter(F.col("rn") <= 3)
        .select("query_id", "qv_q", "n2_q", "cluster")
    )
    cands = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cluster").alias("c_cluster"),
        F.col("qv").alias("qv_c"),
        F.col("n2").alias("n2_c"),
    )
    scored = routed.join(
        cands,
        (F.col("c_cluster") == F.col("cluster"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).withColumn(
        "cos", cosine_q(dot_q(F.col("qv_q"), F.col("qv_c")), F.col("n2_q"), F.col("n2_c"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim_knn_bruteforce(spark, SF).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"k-means IVF recall too low: {recall:.2f}"


def test_auto_k_scales_with_corpus(spark):
    """k="auto" must grow k linearly with N (the SemDeDup 100 TB
    contract): with _TARGET_BLOCK vectors per cluster, a corpus of
    1000 > 16·target forces k above the fixed floor when target is
    patched small."""
    import olap_db_spark.operators.kmeans as km

    vecs = load(spark, SF, "embeddings").select(
        "vec_id", quantize(F.col("embedding")).alias("qv")
    )
    n = vecs.count()
    orig = km._TARGET_BLOCK
    km._TARGET_BLOCK = max(1, n // 40)  # force k ≈ 40 > _K
    try:
        assigned = km.kmeans_fit_assign(spark, SF, k="auto", vecs=vecs)
        n_clusters = assigned.select("cluster").distinct().count()
    finally:
        km._TARGET_BLOCK = orig
    assert n_clusters > km._K, f"auto-k did not scale: {n_clusters} clusters"
    # and the default path stays at the fixed floor on this small corpus
    assert (
        km.kmeans_fit_assign(spark, SF, k="auto", vecs=vecs)
        .select("cluster").distinct().count() <= km._K
    )


def test_semantic_dedup_block_cap(spark):
    """Oversized clusters are re-split: with the cap patched tiny, no
    applyInPandas group may exceed it, and the surviving pairs must be a
    subset of the uncapped output (rank-contiguous blocking never invents
    pairs)."""
    import olap_db_spark.operators.fuzzy_dedup as fd

    full = {
        (r["vec_a"], r["vec_b"])
        for r in fd.dedup_semantic(spark, SF).collect()
    }
    orig = fd._SEM_MAX_BLOCK
    fd._SEM_MAX_BLOCK = 8
    try:
        capped_rows = fd.dedup_semantic(spark, SF).collect()
    finally:
        fd._SEM_MAX_BLOCK = orig
    capped = {(r["vec_a"], r["vec_b"]) for r in capped_rows}
    assert capped <= full, "sub-splitting invented pairs"
    assert capped, "cap collapsed the output entirely"


def test_live_assignment_registry_is_thread_safe(monkeypatch):
    """Concurrent fits (the threaded server shares the module) register
    their assignments through one locked append+evict: every frame but
    the newest ``_LIVE_ASSIGNMENTS_MAX`` is unpersisted exactly once, and
    the registry never holds more than the cap."""
    import sys
    import threading
    import time

    from olap_db_spark.operators import kmeans

    class Stub:
        def __init__(self):
            self.unpersists = 0

        def unpersist(self):
            time.sleep(0)  # yield to the other registering threads
            self.unpersists += 1

    class YieldingList(list):
        """Gives up the GIL between the registry's steps, so an unlocked
        append/evict interleaves across threads."""

        def append(self, item):
            super().append(item)
            time.sleep(0)

        def __len__(self):
            time.sleep(0)
            return super().__len__()

    monkeypatch.setattr(kmeans, "_LIVE_ASSIGNMENTS", YieldingList())
    frames = [[Stub() for _ in range(50)] for _ in range(8)]
    sizes, errors = [], []
    start = threading.Barrier(len(frames), timeout=60)

    def register(batch):
        start.wait()
        try:
            for f in batch:
                kmeans._keep_live(f)
                with kmeans._LIVE_LOCK:
                    sizes.append(len(kmeans._LIVE_ASSIGNMENTS))
        except Exception as ex:  # noqa: BLE001 - reported below
            errors.append(ex)

    threads = [threading.Thread(target=register, args=(b,)) for b in frames]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)

    assert not errors
    live = kmeans._LIVE_ASSIGNMENTS
    assert len(live) == kmeans._LIVE_ASSIGNMENTS_MAX
    assert max(sizes) <= kmeans._LIVE_ASSIGNMENTS_MAX
    for f in (f for batch in frames for f in batch):
        assert f.unpersists == (0 if any(f is g for g in live) else 1)
