"""Referee tests for the round-9 extension operators (SURVEY §5.1 tier-2:
independent semantics pins on top of the DuckDB oracle rows).

* int8 quantization — range proof and reconstruction-error bound checked
  against the mathematical guarantee of symmetric round-half-up
  quantization (|err| <= scale/2 per element), not against another engine.
* BPE train step — a pure-Python reimplementation of word counting,
  pair counting, and the greedy left-to-right merge on the same corpus.
"""

from __future__ import annotations

import re
from collections import Counter

from changesetmd_spark.tables import load_table


def test_int8_quantize_bounds(spark, sf_dir):
    from changesetmd_spark.operators.quantize import q_embedding_int8_quantize

    rows = q_embedding_int8_quantize(spark, sf_dir).collect()
    assert rows, "no vectors quantized"
    for r in rows:
        assert -127 <= r.q_min <= r.q_max <= 127, r
        # round-half-up guarantees per-element |err| <= scale/2, so the
        # mean squared error is bounded by (scale/2)^2
        assert r.mse10 <= (r.scale8 / 2) ** 2 * 1.000001 + 1e-12, r


def _python_bpe(texts: list[str], top: int):
    words = Counter()
    for t in texts:
        words.update(re.findall("[a-z]+", t.lower()))
    words = {w: c for w, c in words.items() if len(w) >= 2}

    def pair_counts(vocab_syms):
        pc = Counter()
        for syms, cnt in vocab_syms:
            for a, b in zip(syms, syms[1:]):
                pc[f"{a}+{b}"] += cnt
        return pc

    vocab = [(list(w), c) for w, c in words.items()]
    pc0 = pair_counts(vocab)
    best = min(pc0.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    p1, p2 = best.split("+")
    merged_vocab = []
    for syms, cnt in vocab:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == p1 and s == p2:
                out[-1] = p1 + p2
            else:
                out.append(s)
        merged_vocab.append((out, cnt))
    pc1 = pair_counts(merged_vocab)

    def topk(pc):
        return sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:top]

    return topk(pc0), topk(pc1)


def test_bitext_margin_matches_numpy(spark, sf_dir):
    import numpy as np

    from changesetmd_spark.operators.bitext import _K, _X_CAP, q_bitext_margin_mining

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    ).collect()
    xs = [(r.vec_id, np.array(r.embedding, dtype=np.float64))
          for r in emb if r.label % 2 == 0 and r.vec_id < _X_CAP]
    ys = [(r.vec_id, np.array(r.embedding, dtype=np.float64)) for r in emb
          if r.label % 2 == 1]
    X = np.stack([v for _, v in xs]); Y = np.stack([v for _, v in ys])
    cs = (X @ Y.T) / np.outer(
        np.linalg.norm(X, axis=1), np.linalg.norm(Y, axis=1)
    )
    sx = np.sort(cs, axis=1)[:, -_K:].sum(axis=1)
    sy = np.sort(cs, axis=0)[-_K:, :].sum(axis=0)
    margin = cs / ((sx[:, None] + sy[None, :]) / (2.0 * _K))
    want = {}
    for i, (x_id, _) in enumerate(xs):
        j = int(np.lexsort((
            [y for y, _ in ys], -margin[i]
        ))[0])
        if margin[i, j] > 1.0:
            want[x_id] = (ys[j][0], round(float(margin[i, j]), 4))
    rows = q_bitext_margin_mining(spark, sf_dir).collect()
    got = {r.x_id: (r.y_id, round(r.margin5, 4)) for r in rows}
    assert set(got) == set(want)
    for x_id, (y_id, m4) in want.items():
        gy, gm = got[x_id]
        assert gy == y_id, (x_id, gy, y_id)
        assert abs(gm - m4) <= 2e-4, (x_id, gm, m4)


def test_bpe_train_step_matches_python(spark, sf_dir):
    from changesetmd_spark.operators.tokenizer import _TOP, q_bpe_train_step

    texts = [
        r.text
        for r in load_table(spark, sf_dir, "documents").select("text").collect()
    ]
    want0, want1 = _python_bpe(texts, _TOP)
    rows = q_bpe_train_step(spark, sf_dir).collect()
    got0 = [(r.pair, r.pair_count) for r in rows if r.iter == 0]
    got1 = [(r.pair, r.pair_count) for r in rows if r.iter == 1]
    assert got0 == want0
    assert got1 == want1
    # the merged pair must vanish from iteration 1's counts
    merged = want0[0][0]
    assert merged not in dict(got1)


def test_bitext_ivf_planted_twin_recall(spark, sf_dir):
    """The production (IVF-blocked) bitext tier's operative claim: TRUE
    bitext pairs — near-duplicates in embedding space, cosine >> background
    — survive the cell blocking and win their source's margin argmax.
    Plant a perturbed odd-half twin for every 10th even-half vector and
    require 100% of the planted twins to be mined by the full production
    dataflow.  (Plain recall of the exact twin's NOISE-argmax pairs is not
    pinned: this synthetic corpus's background pairs have no locality
    signal, so no sublinear blocking can retrieve them — on real parallel
    text the planted case IS the signal case.)"""
    from pyspark.sql import functions as F

    from changesetmd_spark.operators.bitext import (
        ivf_scored_from,
        mine_margin_pairs,
    )
    from changesetmd_spark.operators.similarity import l2_norm, to_double_vec

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double_vec(F.col("embedding")).alias("e")
    )
    off = 20_000_000
    src = emb.filter((F.col("label") % 2 == 0) & (F.col("vec_id") % 10 == 0))
    planted = src.select(
        (F.col("vec_id") + off).alias("vec_id"),
        F.lit(1).alias("label"),
        F.expr(
            "transform(e, (x, i) ->"
            " x * (1.0 + CAST((i * 37) % 11 - 5 AS DOUBLE) / 250.0))"
        ).alias("e"),
    )
    corpus = emb.unionAll(planted).withColumn("nrm", l2_norm(F.col("e")))
    # stride 16 keeps the fixture-corpus-to-cell-size ratio comparable to
    # the production stride 256 at real n (a ~500-vector fixture is smaller
    # than ONE production cell, which would degenerate to all-pairs and
    # test nothing); the routing dataflow under test is stride-independent
    scored = ivf_scored_from(corpus, stride=16)
    # sublinearity evidence: the blocked pair count must stay well below
    # the |X| x |Y| cross product the exact tier would score
    n_x = corpus.filter(F.col("label") % 2 == 0).count()
    n_y = corpus.filter(F.col("label") % 2 == 1).count()
    assert scored.count() < 0.5 * n_x * n_y
    got = {
        r.x_id: r.y_id for r in mine_margin_pairs(scored).collect()
    }
    planted_ids = [r.vec_id for r in src.select("vec_id").collect()]
    assert planted_ids, "degenerate fixture: nothing planted"
    missed = [x for x in planted_ids if got.get(x) != x + off]
    assert not missed, missed


def test_minhash_audit_properties(spark, sf_dir):
    """Estimator-audit referee: estimates live on the k-grid [0, 1/16, ...,
    1], exact Jaccard in [0, 1], and a pair with exact == 1.0 (identical
    shingle sets) must estimate exactly 1.0 — identical sets give identical
    minhash components, the MinHash identity the audit exists to check."""
    from changesetmd_spark.operators.dedup import (
        _MH_CHECK_HASHES,
        q_minhash_estimate_error_audit,
    )

    rows = q_minhash_estimate_error_audit(spark, sf_dir).collect()
    assert rows, "no candidate pairs audited"
    for r in rows:
        grid = r.jaccard_est5 * _MH_CHECK_HASHES
        assert abs(grid - round(grid)) < 1e-6, r
        assert 0.0 <= r.jaccard5 <= 1.0, r
        # err5 rounds the RAW difference; recomputing from the two rounded
        # columns can land one ulp-at-5dp away when jaccard5 itself rounded
        # a tie (e.g. exact=1/64: err5=round(0.484375)=0.48438 but
        # round(0.5-0.01563)=0.48437) — allow that single-grid-step slack
        assert abs(r.err5 - round(r.jaccard_est5 - r.jaccard5, 5)) <= 1.1e-5, r
        if r.jaccard5 == 1.0:
            assert r.jaccard_est5 == 1.0, r


def test_neyman_allocation_properties(spark, sf_dir):
    """Stratified-sample referee: within every stratum the evenly-spaced
    rule must select EXACTLY the allocated count, allocations respect
    1 <= n_alloc <= N_h, and the total allocation never exceeds budget +
    one floor-rounding slot per stratum."""
    from collections import defaultdict

    from changesetmd_spark.operators.sampling import (
        _NEYMAN_BUDGET,
        q_stratified_sample_neyman,
    )

    rows = q_stratified_sample_neyman(spark, sf_dir).collect()
    assert rows, "empty sample"
    per = defaultdict(list)
    for r in rows:
        per[r.source].append(r)
    docs = load_table(spark, sf_dir, "documents")
    n_by_src = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").count().withColumnRenamed("count", "n").collect()
    }
    total_alloc = 0
    for src, rs in per.items():
        alloc = rs[0].stratum_alloc
        assert all(r.stratum_alloc == alloc for r in rs)
        assert len(rs) == alloc, (src, len(rs), alloc)
        assert 1 <= alloc <= n_by_src[src], (src, alloc)
        total_alloc += alloc
    assert total_alloc <= _NEYMAN_BUDGET + len(per), total_alloc


def test_ann_recall_audit_grid(spark, sf_dir):
    """Recall-audit referee: per-query recall lives on the k-grid
    [0, 1/k, ..., 1], n_hit <= n_exact <= k, and every query vector gets a
    row (totality — a query with zero ANN hits must still report 0.0)."""
    from changesetmd_spark.operators.similarity import (
        _N_QUERIES,
        _TOP_K,
        q_ann_recall_audit,
    )

    rows = q_ann_recall_audit(spark, sf_dir).collect()
    assert len(rows) == _N_QUERIES
    for r in rows:
        assert 0 <= r.n_hit <= r.n_exact <= _TOP_K, r
        grid = r.recall5 * r.n_exact
        assert abs(grid - round(grid)) < 1e-6, r


def test_priority_sample_properties(spark, sf_dir):
    """DLT priority-sample referee: exactly k rows, every estimator
    w_hat >= its weight (w_hat = max(w, tau)), and every sampled priority
    strictly clears the threshold implied by the smallest w_hat seen for a
    row whose weight did not dominate (tau consistency)."""
    from changesetmd_spark.operators.sampling import (
        _PRI_K,
        q_priority_sample_topk,
    )

    rows = q_priority_sample_topk(spark, sf_dir).collect()
    assert len(rows) == _PRI_K
    taus = {r.w_hat5 for r in rows if r.w_hat5 != float(r.n_chars)}
    for r in rows:
        assert r.w_hat5 >= float(r.n_chars) or abs(
            r.w_hat5 - r.n_chars
        ) < 1e-6, r
        assert r.priority5 > 0, r
    # all non-dominated rows share ONE tau value
    assert len(taus) <= 1, taus


def test_priority_sample_degenerate_tau_is_zero(spark, tmp_path):
    """DLT degenerate case (ADVICE r10): with n <= k rows there is no
    (k+1)-th priority and the paper defines tau = 0, so w_hat == w for
    every sampled row.  Before the guard, tau equalled the smallest
    SAMPLED priority and biased w_hat upward."""
    from changesetmd_spark.operators.sampling import (
        _PRI_K,
        q_priority_sample_topk,
    )

    n = 5
    assert n <= _PRI_K
    spark.createDataFrame(
        [(i, "s", 100 + i, "t") for i in range(n)],
        "doc_id long, source string, n_chars long, text string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = q_priority_sample_topk(spark, str(tmp_path)).collect()
    assert len(rows) == n
    for r in rows:
        assert r.w_hat5 == float(r.n_chars), r


def test_bitext_ivf_numpy_arm_equivalence(spark, sf_dir, monkeypatch):
    """r18: the numpy batch arm (routing via mapInArrow + cogrouped pair
    scoring) must be BIT-IDENTICAL to the expression arm — same routing
    decisions (stable argsort reproduces the (d, id) tie-breaks) and the
    same IEEE doubles (dim-sequential accumulation == the JVM's left
    fold).  Forced on at test scale via the cell gate."""
    from changesetmd_spark.operators import bitext as bt
    from changesetmd_spark.operators.bitext import l2_norm, to_double_vec
    from changesetmd_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id", "label", to_double_vec(F.col("embedding")).alias("e")
        )
        .withColumn("nrm", l2_norm(F.col("e")))
    )
    expr_rows = sorted(
        tuple(r) for r in bt.ivf_scored_from(emb, checkpoint=False).collect()
    )
    monkeypatch.setattr(bt, "_BT_Y_BCAST_MAX_CELLS", 0)
    np_rows = sorted(
        tuple(r) for r in bt.ivf_scored_from(emb, checkpoint=False).collect()
    )
    assert len(np_rows) == len(expr_rows)
    assert np_rows == expr_rows  # exact doubles, not approx

    # and end-to-end through the registered query against its oracle
    from changesetmd_spark.registry import oracles, queries

    from .oracle import compare_to_oracle

    compare_to_oracle(
        queries()["q_bitext_margin_mining_ivf"](spark, sf_dir),
        oracles()["q_bitext_margin_mining_ivf"],
        sf_dir,
    )


def test_bitext_numpy_route_rejects_ragged_vectors():
    """The numpy routing arm reshapes a batch's flattened vectors into
    (rows, dim); a short, long or NULL vector must raise instead of
    shifting every later row's values into the wrong slots.  Pure
    pyarrow/numpy — no Spark job."""
    import numpy as np
    import pyarrow as pa
    import pytest

    from changesetmd_spark.operators.bitext import _np_route_factory

    cc = np.zeros((2, 3))
    cc[1] = 1.0
    route = _np_route_factory(
        cc,
        seed_cells=np.array([10, 11]),
        SE=cc.copy(),
        seed_start=np.array([0, 1]),
        seed_cnt=np.array([1, 1]),
        probe=1,
        keep=1,
        id_name="x_id",
    )

    def batch(vectors):
        return pa.RecordBatch.from_arrays(
            [
                pa.array(range(len(vectors)), pa.int64()),
                pa.array(vectors, pa.list_(pa.float64())),
            ],
            names=["x_id", "e"],
        )

    ok = list(route(iter([batch([[0.0, 0.0, 0.1], [1.0, 0.9, 1.0]])])))
    assert ok[0].column(1).to_pylist() == [10, 11]
    for bad in (
        [[0.0, 0.0], [1.0, 1.0, 1.0]],
        [[0.0, 0.0], [1.0, 1.0, 1.0, 1.0]],  # total 6 = 2 x 3, still ragged
        [[0.0, 0.0, 0.0], None],
    ):
        with pytest.raises(ValueError, match="expected 3"):
            list(route(iter([batch(bad)])))
