"""The forced-distributed switches of tools/forced_distributed_bench.py.

The gate times the distributed path of every driver-dispatched operator by
setting ``FORCE_ENV``; a key the package never reads would silently time
the driver path under a "distributed" label.
"""

import glob
import os
import re

import numpy as np

from tools.forced_distributed_bench import FORCE_ENV

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_force_env_key_is_read_by_the_package():
    source = "\n".join(
        open(p, encoding="utf-8").read()
        for p in glob.glob(os.path.join(ROOT, "deeptime_spark", "**", "*.py"), recursive=True)
    )
    unread = [
        key
        for key in FORCE_ENV
        if not re.search(r"(?:environ\.get|getenv)\(\s*[\"']" + re.escape(key) + r"[\"']", source)
    ]
    assert unread == []


def test_kmeans_dispatch_switch_forces_distributed_lloyd(spark, monkeypatch):
    """sample_size > n puts the whole relation in the init sample, which
    the driver Lloyd loop absorbs; DEEPTIME_KMEANS_DRIVER_DISPATCH=0 must
    run the distributed loop instead, with bit-identical centers."""
    from deeptime_spark.clustering import kmeans

    rng = np.random.default_rng(55)
    X = rng.normal(size=(90, 3))
    df = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in range(len(X))], "id long, x array<double>"
    ).repartition(4)
    est = dict(n_clusters=4, seed=3, max_iter=10, order_col="id", sample_size=91)

    calls = []
    driver_lloyd = kmeans.deterministic_kmeans_numpy

    def spy(*args, **kwargs):
        calls.append(1)
        return driver_lloyd(*args, **kwargs)

    monkeypatch.setattr(kmeans, "deterministic_kmeans_numpy", spy)
    m_driver = kmeans.DeterministicKMeans(**est).fit(df).fetch_model()
    assert calls == [1]

    monkeypatch.setenv("DEEPTIME_KMEANS_DRIVER_DISPATCH", "0")
    m_dist = kmeans.DeterministicKMeans(**est).fit(df).fetch_model()
    assert calls == [1]
    assert np.array_equal(m_dist.cluster_centers, m_driver.cluster_centers)
