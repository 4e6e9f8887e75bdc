"""Every queries() entry must hash-match its oracle_sql() — the same check
the driver runs at sf0.01 (here at the sf set by SPARK_GRAFT_TEST_SF_DIR)."""

import glob
import json
import os
import re

import pytest

import __spark_entry__ as entrymod
from tests.oracle import compare, duck_connect

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connect(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, sf_dir, duck):
    df = QUERIES[name](spark, sf_dir)
    result = compare(df, duck, ORACLES[name])
    assert result["ok"], result


def test_no_lossy_oracle_types(duck):
    """VERDICT r5 #8: no oracle may project a DuckDB type that degrades
    in a pandas/arrow fetch. HUGEINT (DuckDB's type for integer sum()
    and sum() OVER) becomes float64, so the driver's repr-exact value
    hash sees 1.0 vs Spark's 1 — rows/schema green, values red (the
    rounds-2..4 stream_sessions failure). fetchall() returns lossless
    Python ints and CANNOT catch this, so audit the DECLARED projected
    types; a future oracle edit reintroducing one fails here, locally."""
    lossy = ("HUGEINT", "UHUGEINT", "UBIGINT")
    offenders = {}
    for name, sql in sorted(ORACLES.items()):
        desc = duck.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()
        bad = [(c, t) for c, t, *_ in desc if t in lossy]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"lossy projected oracle types (cast to BIGINT): {offenders}"
    )


def test_no_nested_oracle_types(duck):
    """VERDICT r7 #1b: the round driver's pandas canonicalizer throws
    `unhashable type: 'list'` on LIST/MAP/STRUCT output columns (the r7
    inverted_index red row) — our sim's str(v) normalization silently
    accepted what the driver rejects. Audit every oracle's DECLARED
    projected types: nested types at top level are forbidden; emit a
    sorted delimiter-joined string instead (canonical because sorted)."""
    offenders = {}
    for name, sql in sorted(ORACLES.items()):
        desc = duck.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()
        # '[' (not '[]') so fixed-size ARRAY types like BIGINT[3] —
        # which DESCRIBE prints without the empty-bracket form — are
        # caught too; pandas receives them as unhashable numpy arrays
        bad = [(c, t) for c, t, *_ in desc
               if "[" in t or t.startswith("STRUCT")
               or t.startswith("MAP") or t.startswith("UNION")]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"nested projected oracle types (driver cannot hash them — "
        f"join to a sorted string): {offenders}"
    )


def test_driver_window_contract():
    """The driver correctness-checks the FIRST 50 registry entries: that
    prefix must be exactly the 50 stalest entries by the committed
    verdict history (re-derived here from the CORRECTNESS_r*.json files,
    independently of the entry file), and every slot oracle-backed
    EXCEPT the pinned rows-only debt tiers (sketch/LSH-recall/
    codec ops with no exact SQL counterpart — VERDICT r7 #2 mandated
    rotating them in; the driver records its weaker rows-only verdict
    for those, and the judge sees which). A registry reorder must fail
    here, not silently in the round run."""
    ROWS_ONLY_OK = {
        # The COMPLETE pinned set of rows-only-BY-NATURE tiers (r13,
        # VERDICT r12 #3 generalized): exactly the 17 registry entries
        # with no exact SQL counterpart, each pinned by an
        # exact-counterpart or golden pytest instead. Pinning the full
        # set (rather than the current window's subset) lets the
        # computed window carry any number of them (the r16 window
        # carries 11) while keeping the gate's teeth: a NEW oracle-less
        # query is still rejected the moment it enters a window (it is
        # not in this list), and the equality assertion below ejects
        # any name that later gains an oracle. Families:
        # - sketches (approximate by contract; exact-counterpart pins):
        "sketch_distinct", "sketch_quantiles", "sketch_hll_partitioned",
        # - iterative/greedy algorithms (order-dependent fixpoints;
        #   invariant + golden pins):
        "bpe_encode", "bpe_vocab", "pack_ffd", "kmeans_embeddings",
        # - LSH/ANN shortlists (recall>=bound pinned vs exact tiers;
        #   the banded pHash kNN graduated to an exact oracle in r13,
        #   and embedding_ann_lsh/embedding_ivf followed in r14 —
        #   hyperplane-sign and coarse-centroid admission are
        #   deterministic in committed constants, so their oracles
        #   state the admission rule + exact rerank):
        "pq_ann_topk", "simhash_neighbors_rotated", "neardup_xxhash_lsh",
        "semdedup",
        # - codec tiers with stateful decode recurrences (hand-pinned
        #   goldens in tests/test_formats.py):
        "multimodal_decode", "multimodal_wav_adpcm",
        # - recursive smoothers / engine-specific surfaces (golden +
        #   algebraic-identity pins):
        "influx_holt_winters", "influx_percentile_approx", "influx_ema",
        "influxql_explain",
    }
    assert len(ROWS_ONLY_OK) == 17
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        for name in json.load(open(path)):
            last[name] = max(last.get(name, 0), rnd)
    stalest = sorted(QUERIES, key=lambda n: (last.get(n, 0), n))[:50]
    names = list(QUERIES)[:50]
    assert names == stalest
    missing = [n for n in names if n not in ORACLES and n not in ROWS_ONLY_OK]
    assert not missing, f"window slots without an oracle: {missing}"
    # exact two-way pin: every exemption is genuinely oracle-less AND
    # every oracle-less registry entry is consciously enumerated here —
    # a new rows-only registration must be justified in this list (and
    # a name that gains an oracle must be ejected), in the same commit
    assert set(QUERIES) - set(ORACLES) == ROWS_ONLY_OK, (
        f"rows-only registry set drifted from the pinned exemptions: "
        f"unpinned={sorted(set(QUERIES) - set(ORACLES) - ROWS_ONLY_OK)}, "
        f"gained_oracle={sorted(ROWS_ONLY_OK & set(ORACLES))}")


def test_driver_window_ignores_cwd(monkeypatch, tmp_path):
    """The driver and tools/driver_sim.py import the entry file from
    another cwd; the window must come from the verdict files beside the
    entry file, not from whatever the cwd holds."""
    want = list(QUERIES)[:50]
    monkeypatch.chdir(tmp_path)
    assert list(entrymod._registry()[0])[:50] == want


def test_every_query_runs(spark, sf_dir):
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        assert df.limit(1).count() >= 0, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_ann_oracle_margins():
    """Validity-domain audit for the r14 ANN oracle graduations
    (VERDICT r13 #4): embedding_ann_lsh's and embedding_ivf's oracles
    re-state numpy-matmul admission rules as SQL sum chains, which is
    exact only while every sign/argmax/top-k decision sits far above
    the ~1e-13 summation-order divergence between the two engines.
    Pin those margins at BOTH oracle SFs (pytest's sf0.001 and the
    driver's sf0.01), plus the cap-never-fires precondition the LSH
    oracle silently assumes (it cannot replicate the xxhash64
    down-sampler). Pure numpy+duckdb — no Spark session needed."""
    import duckdb
    import numpy as np

    from ha_sqllite_2_influxdb_spark.operators.similarity import (
        ANN_BUCKET_CAP, DIM, LSH_PLANES, LSH_TABLES, _plane)
    from ha_sqllite_2_influxdb_spark.plans import llm_ops

    M = (1 << 64) - 1

    def xxh64_long(l, seed=42):  # Spark XxHash64 on a long (XXH64 LE)
        P1, P2, P3, P4, P5 = (llm_ops._XXH_P1, llm_ops._XXH_P2,
                              llm_ops._XXH_P3, llm_ops._XXH_P4,
                              llm_ops._XXH_P5)

        def rotl(x, r):
            return ((x << r) | (x >> (64 - r))) & M

        l &= M
        h = (seed + P5 + 8) & M
        k1 = (l * P2) & M
        k1 = rotl(k1, 31)
        k1 = (k1 * P1) & M
        h ^= k1
        h = (rotl(h, 27) * P1 + P4) & M
        h ^= h >> 33
        h = (h * P2) & M
        h ^= h >> 29
        h = (h * P3) & M
        h ^= h >> 32
        return h - (1 << 64) if h >= (1 << 63) else h

    planes = np.array(
        [_plane(t * LSH_PLANES + p, DIM)
         for t in range(LSH_TABLES) for p in range(LSH_PLANES)]).T
    con = duckdb.connect()
    for sf in ("0.001", "0.01"):
        rows = con.execute(
            f"SELECT vec_id, embedding FROM "
            f"'/root/testdata/sf{sf}/embeddings.parquet' "
            f"ORDER BY vec_id").fetchall()
        ids = np.array([r[0] for r in rows])
        V = np.array([r[1] for r in rows], dtype=np.float64)
        dots = V @ planes
        # LSH sign margin: >= 1e-7 keeps 6+ orders over summation noise
        assert np.abs(dots).min() > 1e-7, f"sf{sf}: LSH sign-bit tie risk"
        # cap-never-fires: largest (table, signature) bucket below cap
        weights = (1 << np.arange(LSH_PLANES)).astype(np.int64)
        bits = dots >= 0
        worst = 0
        for t in range(LSH_TABLES):
            sigs = bits[:, t * LSH_PLANES:(t + 1) * LSH_PLANES] @ weights
            worst = max(worst, int(np.bincount(sigs).max()))
        assert worst < ANN_BUCKET_CAP, (
            f"sf{sf}: hot bucket ({worst}) would trigger the xxhash64 "
            f"down-sampler the oracle cannot replicate")
        # IVF: codebook selection strictly ordered, argmax + probe gaps
        hs = sorted((xxh64_long(int(i)), int(i)) for i in ids)
        order = [np.searchsorted(ids, vid) for _, vid in hs[:16]]
        cb = V[order]
        cbn = cb / np.linalg.norm(cb, axis=1, keepdims=True)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        s = np.sort(Vn @ cbn.T, axis=1)
        assert (s[:, -1] - s[:, -2]).min() > 1e-9, (
            f"sf{sf}: IVF nearest-cell tie risk")
        assert (s[:, -8] - s[:, -9]).min() > 1e-9, (
            f"sf{sf}: IVF probe-boundary tie risk")
