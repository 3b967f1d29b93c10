"""One IVF probe path: `similarity.cell_model` + `probe_cells` rank cells on
the driver, `similarity._topk_cells` is the shared scoring tail.

The probe must rank exactly like the Spark expression it replaced,
`orderBy(asc(euclidean_distance(ce, q)), asc(cid)).limit(n_probe)`:
checked here on random vectors with built ties and degenerate centroids,
and on the fixture's build seeds. The six readers' top-k rows are pinned
by digests recorded from the expression-probe readers.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from ai_optimizer_spark.functions import vector as V
from ai_optimizer_spark.operators import similarity as S
from ai_optimizer_spark.plans import bucketing as B
from ai_optimizer_spark.plans import published as P
from ai_optimizer_spark.tables import load_tables

K = 16


def _expr_ranking(spark, model, qvecs):
    """{query index: [cid, ...]} ranked by the Spark expression, one job."""
    from pyspark.sql import Window

    cents = spark.createDataFrame(
        [(c, None if ce is None else [None if x is None else float(x) for x in ce])
         for c, ce in model],
        "cid long, ce array<double>",
    )
    q = spark.createDataFrame(
        [(i, None if v is None else [float(x) for x in v]) for i, v in enumerate(qvecs)],
        "qi int, query_vec array<double>",
    )
    w = Window.partitionBy("qi").orderBy(F.asc("qdist"), F.asc("cid"))
    rows = (
        cents.crossJoin(q)
        .select("qi", "cid", V.euclidean_distance("ce", "query_vec").alias("qdist"))
        .withColumn("rn", F.row_number().over(w))
        .collect()
    )
    out: dict[int, list[int]] = {}
    for r in sorted(rows, key=lambda r: (r.qi, r.rn)):
        out.setdefault(r.qi, []).append(int(r.cid))
    return out


def test_probe_cells_matches_spark_expression(spark):
    rng = np.random.default_rng(11)
    dim = 16
    X = rng.standard_normal((12, dim)).astype(np.float32).astype(float)
    model = [(c, tuple(X[c])) for c in range(12)]
    model[9] = (9, model[3][1])  # exact tie with cid 3: cid 3 must rank first
    model[5] = (5, None)  # NULL centroid: NULL distance, ranks first
    model[7] = (7, model[7][1][:-1])  # wrong length: NULL distance
    model[8] = (8, (None,) + model[8][1][1:])  # NULL element: NULL distance
    model[10] = (10, (float("nan"),) + model[10][1][1:])  # NaN: ranks last
    model = tuple(model)
    qvecs = [tuple(v) for v in rng.standard_normal((20, dim)).astype(np.float32).astype(float)]
    qvecs.append(model[3][1])  # distance 0.0 to both tied cells
    want = _expr_ranking(spark, model, qvecs)
    for i, q in enumerate(qvecs):
        assert S.probe_cells(model, q, len(model)) == want[i], i
        assert S.probe_cells(model, q, 4) == want[i][:4], i
        ranked = want[i]
        assert ranked[:3] == [5, 7, 8] and ranked[-1] == 10
        assert ranked.index(3) < ranked.index(9)
    # a NULL query vector: every distance is NULL, cids ascending
    assert S.probe_cells(model, None, 5) == [0, 1, 2, 3, 4]


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_probe_cells_matches_spark_on_fixture_seeds(spark, sf):
    emb = load_tables(spark, sf)["embeddings"]
    model = S.cell_model(emb, S.build_seeds(K))
    assert [c for c, _ in model] == list(range(K))
    qvecs = [S.probe_query(emb, S.build_seeds(K), q, K)[0] for q in range(40)]
    want = _expr_ranking(spark, model, qvecs)
    for q in range(40):
        for n_probe in (1, 4, 16):
            assert S.probe_cells(model, qvecs[q], n_probe) == want[q][:n_probe], (q, n_probe)


def test_cell_model_is_held_per_seed_map(spark, sf_small):
    emb = load_tables(spark, sf_small)["embeddings"]
    seeds = S.build_seeds(K)
    model = S.cell_model(emb, seeds)
    assert S.cell_model(emb, list(reversed(seeds))) is model  # keyed by content
    moved = S.cell_model(emb, [(c, 100 + c) for c in range(K)])
    assert moved is not model and [c for c, _ in moved] == list(range(K))
    # a seed that is not in the table leaves its cell out, like the seed join
    assert [c for c, _ in S.cell_model(emb, [(0, 0), (1, 10**9)])] == [0]


# sha256 of the "query_id|vec_id|label|cid|cos_sim" lines, in served order,
# of query ids 0-39 at k=8, recorded from the readers that ranked cells
# with the Spark expression. Readers sharing an oracle serve the same rows.
FAMILY = {
    "ivf_topk": "raw",
    "clustered_ivf_topk": "raw",
    "quantized_clustered_topk": "sq8",
    "published_served_topk": "sq8",
    "residual_clustered_topk": "residual",
}
RECORDED = {
    ("raw", "sf0.001", 1): "67f4bfc5f9594a7f67ebf20b25bf1ac97b0df797ad42f19f50eb4c462a36f1fe",
    ("raw", "sf0.001", 4): "f974b4420cd72d798e981b9a14687094c4ef001713ab6f027a1ab5e1e86a54e9",
    ("raw", "sf0.001", 16): "81aab95be168b65636bcd79b4abe7af1790c016b3e3ac3edee7350e8fabec3fa",
    ("raw", "sf0.01", 1): "2c17e9752886db6a87bf38a3158652910977bc00e515397722fde91a1d705921",
    ("raw", "sf0.01", 4): "89102392d36b9dca8597b3bcf2a3b6cd9773cd87672daa75fc2978ca57682057",
    ("raw", "sf0.01", 16): "52169408ab82817ec0ab9f6cf1cc8690b91910ae8e55df1adfe7d1cc0158ca6a",
    ("residual", "sf0.001", 1): "e82e541f098aebb76e4c5e512ace4e6bea0cac53b2093f38d7212aec5ad104f0",
    ("residual", "sf0.001", 4): "625e09037262dd6a36b5cabf2961b90d3b2f5160648cf096cb8be6d6ad1070c4",
    ("residual", "sf0.001", 16): "58d8ac5e71ab80746e2c5d3b16ed1eb11ab3b1f36fb07efdfe8633bdd51e2a3c",
    ("residual", "sf0.01", 1): "a3bfa12cf278392210d55250ea80ddba7ad8b7e54baad6449071d1820bc00f31",
    ("residual", "sf0.01", 4): "28d1748fc52d43249c9bf6ddd68c310f2423e85c2e90bb8ea8bbdc5d8eb62375",
    ("residual", "sf0.01", 16): "6528058c97e92aca572e4f836583632185c315aac98a9bbb17deff2a55696cab",
    ("sq8", "sf0.001", 1): "9c3fc824b4eededc24b7df659f9d45a25097adc969d5a54793fa89c724787147",
    ("sq8", "sf0.001", 4): "9d79cde245375143d309d14e9d0a8cdf4ca8528967bed46557cfcee3cb705266",
    ("sq8", "sf0.001", 16): "5bf0bcdc6f312cf8b5b2a81be370f74c64b41fc61760a97a98d583b74684289c",
    ("sq8", "sf0.01", 1): "2c5fb209eea20c2778ed9931285d40aaa676700dc30df63bf9818060cbdbf67d",
    ("sq8", "sf0.01", 4): "0807327579d864e16f90a436e35d943b54ae3ab3a20b1414eed6a647f2c22177",
    ("sq8", "sf0.01", 16): "755dc6fdbaab8db62a70336149e4694fc29197ca444156b1c18ec673f77add29",
}
# the same digest over query ids 0-9 only, sf0.001, n_probe 4
RECORDED_FIRST_TEN = {
    "raw": "9bbac3d8ae505e353855641a0055d0a952a2afa6c46cb03349b5e3fab8c658b8",
    "sq8": "f45982bed238b02297d7ea693a599d948d31805a579e4efea4fbf91ac8b0ca80",
    "residual": "0f6126507ed50c168cb366c13cd39b045ddc87944bd6368bfd8d94f127dba77a",
}


@pytest.fixture(scope="module")
def serve(spark, tmp_path_factory):
    """reader name -> fn(sf_dir, query_id, n_probe) -> DataFrame; the
    published reader serves epoch 1 of a private root per scale."""
    import unittest.mock

    base = tmp_path_factory.mktemp("pub")
    with unittest.mock.patch.object(
        P, "_pub_root", lambda _spark, sf_dir, _k, _label=None: str(base / os.path.basename(sf_dir))
    ):
        readers = {
            "ivf_topk": lambda sf, q, n: S.ivf_topk(load_tables(spark, sf), q, 8, K, n),
            "clustered_ivf_topk": lambda sf, q, n: B.clustered_ivf_topk(spark, sf, q, 8, n),
            "quantized_clustered_topk": (
                lambda sf, q, n: B.quantized_clustered_topk(spark, sf, q, 8, n)),
            "residual_clustered_topk": (
                lambda sf, q, n: B.residual_clustered_topk(spark, sf, q, 8, n)),
            "published_served_topk": (
                lambda sf, q, n: (P.publish_init(spark, sf, K),
                                  P.published_served_topk(spark, sf, q, 8, n, K, epoch=1))[1]),
        }
        yield readers


def _digest(serve_fn, sf, query_ids, n_probe):
    lines = [
        "|".join(repr(x) for x in (q, *r))
        for q in query_ids
        for r in serve_fn(sf, q, n_probe).collect()
    ]
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


@pytest.mark.parametrize("reader", sorted(FAMILY))
def test_reader_rows_match_recorded(serve, reader):
    got = _digest(serve[reader], "/root/testdata/sf0.001", range(10), 4)
    assert got == RECORDED_FIRST_TEN[FAMILY[reader]]


@pytest.mark.slow
@pytest.mark.parametrize("reader", sorted(FAMILY))
@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_reader_rows_match_recorded_all_probes(serve, reader, sf):
    for n_probe in (1, 4, 16):
        got = _digest(serve[reader], f"/root/testdata/{sf}", range(40), n_probe)
        assert got == RECORDED[(FAMILY[reader], sf, n_probe)], n_probe
