"""Round-14 additions: media fingerprint promotions (frame samples /
resized thumbs as exact integer content moments), the quantized Neumann
absorption replay, and the Newton-Schulz Procrustes replay."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from uav_streamprocessor_spark.fixtures import register_uav_views
from uav_streamprocessor_spark.operators import multimodal
from uav_streamprocessor_spark.operators.multimodal import _md5_noise
from uav_streamprocessor_spark.operators.pixel import encode_image

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _views(spark):
    register_uav_views(spark, SF_SMALL)


# ---------------------------------------------------------------------------
# media_frame_samples / media_resized_thumbs fingerprint promotions
# ---------------------------------------------------------------------------

def test_frame_sample_fingerprints_static_back_half(spark):
    """Corpus videos repeat frame 3 in the back half: sampled frame 6 must
    carry the exact same content moments as sampled frame 3."""
    m = multimodal.corpus_media(spark)
    rows = multimodal.frame_sample_fingerprints(m, every_n=3).collect()
    per = {}
    for r in rows:
        per.setdefault(r["media_id"], {})[r["frame_index"]] = (
            r["payload_sum"], r["payload_ss"]
        )
    assert per, "no videos in corpus"
    for mid, by_idx in per.items():
        assert sorted(by_idx) == [0, 3, 6], (mid, sorted(by_idx))
        assert by_idx[3] == by_idx[6], mid
        # front half is md5 noise: frames 0 and 3 differ
        assert by_idx[0] != by_idx[3], mid


def test_frame_sample_fingerprints_match_md5_source(spark):
    """Positive control independent of the DuckDB oracle: moments equal a
    direct numpy recomputation from the md5 corpus bytes."""
    m = multimodal.corpus_media(spark)
    rows = multimodal.frame_sample_fingerprints(m, every_n=3).collect()
    checked = 0
    for r in rows:
        if checked >= 6:
            break
        src = r["frame_index"] if r["frame_index"] < 4 else 3
        noise = _md5_noise(f"v{r['media_id']}", 4 * 16 * 16 * 3)
        frame = noise[src * 768 : (src + 1) * 768].astype(np.int64)
        assert r["height"] == 16 and r["width"] == 16
        assert r["payload_sum"] == int(frame.sum()), r
        assert r["payload_ss"] == int((frame * frame).sum()), r
        checked += 1
    assert checked == 6


def test_resized_thumb_fingerprints_match_stride2(spark):
    """Nearest-neighbor 32->16 keeps exactly the even-coordinate pixels."""
    m = multimodal.corpus_media(spark)
    rows = multimodal.resized_thumb_fingerprints(m, target=16).collect()
    assert rows
    for r in rows[:6]:
        img = _md5_noise(f"i{r['media_id']}", 32 * 32 * 3).reshape(32, 32, 3)
        kept = img[::2, ::2, :].astype(np.int64)
        assert (r["height"], r["width"]) == (16, 16)
        assert r["payload_sum"] == int(kept.sum()), r
        assert r["payload_ss"] == int((kept * kept).sum()), r


# ---------------------------------------------------------------------------
# quantized numeric kernels (r14 promotions) — pure-numpy properties
# ---------------------------------------------------------------------------

def test_procrustes_rotation_is_orthogonal_and_matches_svd():
    """The quantized Newton-Schulz polar iteration must deliver (a) an
    orthogonal matrix to within the snap floor and (b) the SAME rotation
    LAPACK's U@Vt gives, for well-conditioned inputs — across several
    seeded random cross-covariances."""
    from uav_streamprocessor_spark.operators.similarity import (
        procrustes_rotation,
    )

    for seed in (0, 7, 42):
        rng = np.random.RandomState(seed)
        M = rng.standard_normal((64, 64))
        R = procrustes_rotation(M)
        orth_err = np.abs(R.T @ R - np.eye(64)).max()
        assert orth_err < 1e-4, orth_err
        u, _, vt = np.linalg.svd(M)
        assert np.abs(R - u @ vt).max() < 1e-4


def test_procrustes_rotation_recovers_planted_rotation():
    """M = A^T (A Q) has polar factor exactly Q (A full rank)."""
    from uav_streamprocessor_spark.operators.similarity import (
        procrustes_rotation,
    )

    rng = np.random.RandomState(3)
    A = rng.standard_normal((200, 64))
    q, _ = np.linalg.qr(rng.standard_normal((64, 64)))
    M = A.T @ (A @ q)
    R = procrustes_rotation(M)
    assert np.abs(R - q).max() < 1e-4


def test_absorption_iterate_matches_linear_solve():
    """The 150-round quantized Neumann iterate must agree with the exact
    (I-Q)^-1 [R|1] solve to well inside the snap accumulation bound, for
    random substochastic chains across a range of spectral radii."""
    for seed, rho_target in ((1, 0.5), (2, 0.8), (3, 0.9)):
        rng = np.random.RandomState(seed)
        k = 6
        Q = rng.uniform(0.0, 1.0, (k, k))
        # normalize every row to sum rho_target: row-substochastic with
        # spectral radius exactly rho_target (Perron root of a matrix
        # with constant row sums IS the row sum)
        Q *= rho_target / Q.sum(axis=1, keepdims=True)
        # absorbing mass = what's left of each row (split purchase/drop)
        rest = 1.0 - Q.sum(axis=1)
        assert (rest > 1e-12).all(), "construction must leave absorbing mass"
        R = np.stack([rest * 0.4, rest * 0.6], axis=1)
        rhs = np.hstack([R, np.ones((k, 1))])
        exact = np.linalg.solve(np.eye(k) - Q, rhs)

        def snap9(a):
            return np.floor(a * 1e9 + 0.5) / 1e9

        X = np.zeros((k, 3))
        for _ in range(150):
            X = snap9(rhs + Q @ X)
        # error sources: truncation rho^150 (negligible), per-round snap
        # (5e-10/(1-rho)), and the Q/R entry snaps amplified through the
        # solve (~(k*5e-10)/(1-rho)^2 on the steps column) — measured
        # ~1.4e-6 worst at rho=0.9, k=6; the real corpus sits at rho~0.8,
        # k=4 with ~4e-9 observed mass error, 100x inside the 6dp shadow
        assert np.abs(X - exact).max() < 1e-5, (
            seed, np.abs(X - exact).max()
        )
        # and absorption mass still rounds to exactly 1.0 at 6dp
        mass = X[:, 0] + X[:, 1]
        assert np.abs(mass - 1.0).max() < 5e-7, mass


# ---------------------------------------------------------------------------
# ADVICE r13: signature-plane corpus contract + IVF exactness witness
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_signature_oracle_corpus_contract(sf):
    """The five MinHash/SimHash signature-replay oracles are only valid
    under the documented corpus contract: every document is printable
    ASCII, single-space separated, no leading/trailing spaces, >= 3
    tokens (ADVICE r13: the engine gives <3-token docs a sentinel
    shingle the SQL replay silently omits, and string_split(' ') vs
    Python split() diverge on multi-space / non-ASCII text). A future
    corpus change must fail HERE, loudly, not as a confusing parity
    mismatch."""
    import duckdb

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'/root/testdata/sf{sf}/documents.parquet'"
    )
    # one regex enforces the whole contract: >= 3 single-space-separated
    # runs of printable non-space ASCII, nothing else
    bad = con.sql(
        r"""
        SELECT count(*) FROM documents
        WHERE NOT regexp_matches(text,
          '^[\x21-\x7e]+( [\x21-\x7e]+){2,}$')
        """
    ).fetchone()[0]
    assert bad == 0, (
        f"sf{sf}: {bad} documents violate the signature-oracle corpus "
        "contract (ascii, single-space separated, >=3 tokens)"
    )


def test_ivf_full_probe_replay_equals_knn_oracle(duck):
    """ADVICE r13: emb_ivf_full_probe's oracle moved to the shared IVF
    replay template, so no oracle independently asserted the exactness
    law (full-probe IVF == brute-force kNN) — both sides could share a
    misconception. This witness runs BOTH oracle SQLs in DuckDB and
    pins their outputs equal, keeping the exactness twin independent."""
    from uav_streamprocessor_spark import registry

    o = registry.oracle_sql()
    fp = sorted(duck.sql(o["emb_ivf_full_probe"]).fetchall())
    knn = sorted(duck.sql(o["emb_knn_bruteforce"]).fetchall())
    assert fp == knn


def test_payload_fingerprints_read_content(spark):
    """A one-byte payload change must flip the moments (the fingerprint is
    a content check, not a row-count check)."""
    base = np.zeros((4, 4, 3), dtype=np.uint8)
    tweak = base.copy()
    tweak[1, 2, 0] = 7
    df = spark.createDataFrame(
        pd.DataFrame(
            {"media_id": [0, 1],
             "payload": [encode_image(base), encode_image(tweak)]}
        )
    )
    out = {
        r["media_id"]: (r["payload_sum"], r["payload_ss"])
        for r in multimodal._payload_fingerprints(df, ["media_id"]).collect()
    }
    assert out[0] == (0, 0)
    assert out[1] == (7, 49)
