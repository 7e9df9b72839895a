"""Bitext mining with the margin criterion (SURVEY §2.11 E2 extension —
the parallel-corpus mining pass of a multilingual training-data pipeline,
after Artetxe & Schwenk 2019 / CCMatrix).

Two embedding sets (here: the even- vs odd-``label`` halves of
``embeddings``, standing in for the two languages) are scored pairwise;
a raw cosine threshold over-selects hubs, so each pair is rescored by the
**margin**: cosine divided by the average of the two sides' k-NN cosine
averages.  Pairs whose margin clears 1.0 and win their source row's
argmax are the mined bitext.

Two tiers: `q_bitext_margin_mining` caps the query side (the exact
referee / oracle tier), and `q_bitext_margin_mining_ivf` is the uncapped
production path — a two-level IVF quantizer (n/256 constant-size fine
cells routed through a √K coarse level) blocks both halves
(candidate assigned to 1 cell, query probes P cells) and both the cosine
scoring and the margin's k-NN denominators run within the blocked pairs
only, the CCMatrix construction, so nothing does corpus×corpus.  On
clusterable real text embeddings the blocking keeps true translations
(near-dups in embedding space, cosine ≫ background) in shared cells; the
planted-twin referee pins exactly that property, because this synthetic
corpus's noise-argmax pairs are inherently unrecoverable by any sublinear
blocking.  All float reductions are sequential left folds (``F.aggregate``
== DuckDB ``list_reduce``) and the k-NN sums fold over an explicitly
sorted list, so both tiers hash-check bit-for-bit before rounding.
Reference parity: the reference has no vector tier; this extends it per
the mandated LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .similarity import _l2sq, cosine, l2_norm, to_double_vec

_DIM = 64
_K = 4  # neighborhood size for the margin denominators
_X_CAP = 200  # exact-tier query-side cap (production tier = IVF blocking)
_BT_IVF_PROBE = 4  # cells probed on the query side (and coarse routing)
# One fine cell per _BT_SEED_STRIDE vectors: K ∝ n keeps the expected cell
# SIZE constant, so the blocked pair count Σ|x_cell|·|y_cell| grows
# linearly with the corpus instead of the O(n^1.5) a √n-cell layout gives
# (cells of size √n ⇒ √n pairs per probe per query).  Routing through the
# √K coarse level costs n·√K·(1+P) distance folds — the q_semdedup_ivf
# two-level scheme.
_BT_SEED_STRIDE = 256
# The fine-routing join broadcasts seed_assign (K rows × _DIM doubles).
# K = n/256 grows linearly with the corpus, so above this many seeds
# (~32 MB at 64 dims — within Spark's comfortable explicit-broadcast
# envelope, vs the 10 MB autoBroadcastJoinThreshold default) the route
# falls back to a shuffle equi-join on coarse_id — same plan shape minus
# the broadcast, still no corpus cross-product.  Keeps the 100 TB claim
# honest past n ≈ 1.6·10^7 vectors without pressuring driver memory.
_BT_SEED_BCAST_MAX = 64_000
# Small-corpus scoring arm (r17, guide §2.4/§3.2): with K = n/256 cells the
# expansion join has only K distinct keys, and on a small corpus AQE
# additionally coalesces its tiny (pre-expansion) inputs to ONE partition —
# the 64-dim cosine fold over Σ|x_cell|·|y_cell| pairs, the query's real
# work, then runs single-task (measured 1.65 s single-task vs 0.27 s at 32
# tasks for the same 500k folds).  When the candidate half is broadcastable
# (k ≤ this many cells ⇒ y side ≈ 128·k rows ≈ ≤ 34 MB), score it as a
# round-robin-repartitioned streamed side × broadcast hash join: the
# round-robin exchange is a few MB, cannot be pruned as redundant (the
# window already hash-partitions by x_id) and AQE never coalesces an
# explicit-width repartition, so the expansion stage keeps the session's
# full parallelism.  Past the threshold the shuffle equi-join arm keeps
# K ≥ 512 cells of natural parallelism and nothing needs the extra
# exchange of a vector-carrying frame.
_BT_Y_BCAST_MAX_CELLS = 512


# --- numpy batch arm (r18, guide §4.2) --------------------------------------
# Above _BT_Y_BCAST_MAX_CELLS cells the IVF pipeline is FOLD-BOUND: at the
# 300x tier it evaluates ~330M interpreted 64-dim `F.aggregate` folds
# (~0.4-1 µs each — routing 63 s + pair cosine 77 s of a 255 s query).
# The folds are embarrassingly batchable, so this arm hands whole Arrow
# batches to numpy and accumulates DIM-BY-DIM IN INDEX ORDER — each
# per-element term rounds exactly once and the running sum adds in the
# same sequence as the JVM's sequential left fold, so every distance and
# cosine is IEEE-bit-identical to the expression form (pinned by
# tests/test_r9_ops.py::test_bitext_ivf_numpy_arm_equivalence).
# Gated to _BT_Y_BCAST_MAX_CELLS < K <= _BT_SEED_BCAST_MAX: below, the
# broadcast arm's plan (the bench regime) is untouched; above, the seed
# table no longer fits the driver and the shuffle-join arm takes over.


def _np_fold_l2sq(X, C):
    """(B, dim) × (M, dim) → (B, M) squared L2, dim-sequential fold —
    value-identical to similarity._l2sq (see block comment above)."""
    import numpy as np

    acc = np.zeros((X.shape[0], C.shape[0]))
    for j in range(X.shape[1]):
        t = X[:, j, None] - C[None, :, j]
        acc += t * t
    return acc


def _np_route_factory(
    CC, seed_cells, SE, seed_start, seed_cnt, probe, keep, id_name
):
    """mapInArrow function: batches of (id, e) → (id, cell_id) routing
    rows, reproducing _route's two-level argmin with its exact (d, id)
    tie-breaks.  Only the id and the vector cross the Python boundary in;
    only (id, cell) rows cross out — payloads are re-attached by a join.

    ``CC`` (C, dim) is sorted by coarse_id ascending and the seed arrays
    by (coarse index, cell_id) ascending, so numpy's stable argsort on
    distance alone reproduces the (d, coarse_id) / (d, cell_id) ordering."""

    def fn(it):
        import numpy as np
        import pyarrow as pa

        S = int(seed_cnt.max())
        span = np.arange(S)[None, :]
        sentinel = np.iinfo(np.int64).max
        probe_eff = min(probe, CC.shape[0])  # tiny corpora: C < P
        for batch in it:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            B = len(ids)
            if B == 0:
                continue
            vecs = batch.column(1)
            dims = vecs.value_lengths().fill_null(-1).to_numpy()
            if (dims != CC.shape[1]).any():
                # a ragged or NULL vector would shift every later row's
                # values under reshape(B, -1): refuse instead of misrouting
                raise ValueError(
                    f"embedding batch of {B} rows holds vectors of lengths "
                    f"{sorted(set(dims.tolist()))} (-1 = NULL), expected "
                    f"{CC.shape[1]}"
                )
            X = np.asarray(
                vecs.flatten().to_numpy(zero_copy_only=False)
            ).reshape(B, -1)
            D = _np_fold_l2sq(X, CC)
            order = np.argsort(D, axis=1, kind="stable")[:, :probe_eff]
            ds, cells = [], []
            for p in range(probe_eff):
                ci = order[:, p]
                cnt = seed_cnt[ci][:, None]
                valid = span < cnt
                idx = np.where(valid, seed_start[ci][:, None] + span, 0)
                acc = np.zeros((B, S))
                for j in range(X.shape[1]):
                    t = X[:, j, None] - SE[idx, j]
                    acc += t * t
                ds.append(np.where(valid, acc, np.inf))
                cells.append(np.where(valid, seed_cells[idx], sentinel))
            Dc = np.concatenate(ds, axis=1)
            Cc = np.concatenate(cells, axis=1)
            rows = np.arange(B)[:, None]
            o1 = np.argsort(Cc, axis=1, kind="stable")  # cells unique/row
            Dc = Dc[rows, o1]
            Cc = Cc[rows, o1]
            keep_eff = min(keep, Dc.shape[1])
            o2 = np.argsort(Dc, axis=1, kind="stable")[:, :keep_eff]
            out_cells = Cc[rows, o2].ravel()
            out_ids = np.repeat(ids, keep_eff)
            m = out_cells != sentinel  # rows with < keep real candidates
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids[m], pa.int64()),
                    pa.array(out_cells[m], pa.int64()),
                ],
                names=[id_name, "cell_id"],
            )

    return fn


def _np_pair_score(xpdf, ypdf):
    """Cogrouped per-cell pair scoring: all |X|·|Y| cosines of one fine
    cell as a dim-sequential accumulated product — bit-identical to
    similarity.cosine's fold (dot in index order, then one norm-product
    rounding, then the division)."""
    import numpy as np
    import pandas as pd

    if len(xpdf) == 0 or len(ypdf) == 0:
        return pd.DataFrame(
            {
                "x_id": pd.Series(dtype="int64"),
                "y_id": pd.Series(dtype="int64"),
                "cs": pd.Series(dtype="float64"),
            }
        )
    X = np.stack(xpdf["xe"].to_numpy())
    Y = np.stack(ypdf["ye"].to_numpy())
    acc = np.zeros((len(X), len(Y)))
    for j in range(X.shape[1]):
        acc += X[:, j, None] * Y[None, :, j]
    denom = xpdf["xn"].to_numpy()[:, None] * ypdf["yn"].to_numpy()[None, :]
    cs = acc / denom
    return pd.DataFrame(
        {
            "x_id": np.repeat(xpdf["x_id"].to_numpy(), len(Y)),
            "y_id": np.tile(ypdf["y_id"].to_numpy(), len(X)),
            "cs": cs.ravel(),
        }
    )


def _knn_sum(scored: DataFrame, key: str, other: str, out: str) -> DataFrame:
    """Per-``key`` sum of its top-``_K`` cosines, folded over an explicitly
    sorted list so the summation order is engine-independent.

    NOTE r18: a collect_list + slice hash aggregate was measured here and
    REVERTED — without a bounded top-K accumulator the agg buffers hold
    every candidate per key (all 174M structs at the 300x tier) before
    the slice, and the spill costs far more than the window's streaming
    sort (x300 margin stage ~2.5x slower)."""
    w = Window.partitionBy(key).orderBy(F.desc("cs"), F.asc(other))
    topk = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _K
    )
    return topk.groupBy(key).agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("cs", other))),
                lambda s: s["cs"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias(out)
    )


def scored_pairs(spark: SparkSession, sf_dir: str, *, checkpoint: bool = True) -> DataFrame:
    """Pairwise cosine between the capped even-label query side (broadcast)
    and the full odd-label candidate side.  ``checkpoint=False`` exposes
    the raw scoring plan for plan-shape tests (the production query hides
    it behind a lazy localCheckpoint because three consumers reuse it)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double_vec(F.col("embedding")).alias("e")
    )
    emb = emb.withColumn("nrm", l2_norm(F.col("e")))
    xs = emb.filter((F.col("label") % 2 == 0) & (F.col("vec_id") < _X_CAP)).select(
        F.col("vec_id").alias("x_id"),
        F.col("e").alias("xe"),
        F.col("nrm").alias("xn"),
    )
    ys = emb.filter(F.col("label") % 2 == 1).select(
        F.col("vec_id").alias("y_id"),
        F.col("e").alias("ye"),
        F.col("nrm").alias("yn"),
    )
    scored = ys.crossJoin(F.broadcast(xs)).select(
        "x_id",
        "y_id",
        cosine(F.col("xe"), F.col("ye"), F.col("xn"), F.col("yn")).alias("cs"),
    )
    return scored.localCheckpoint(eager=False) if checkpoint else scored


@register(
    "q_bitext_margin_mining",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id, label, e,
             sqrt(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b))
               AS nrm
      FROM v
    ), xs AS (
      SELECT vec_id AS x_id, e AS xe, nrm AS xn FROM n
      WHERE label % 2 = 0 AND vec_id < {_X_CAP}
    ), ys AS (
      SELECT vec_id AS y_id, e AS ye, nrm AS yn FROM n WHERE label % 2 = 1
    ), scored AS (
      SELECT x_id, y_id,
             list_reduce(list_transform(generate_series(1, {_DIM}),
                                        i -> xe[i] * ye[i]),
                         (a, b) -> a + b) / (xn * yn) AS cs
      FROM xs CROSS JOIN ys
    ), fwd AS (
      SELECT x_id, list_reduce(list(cs ORDER BY cs, y_id), (a, b) -> a + b)
               AS sx
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY x_id
                                         ORDER BY cs DESC, y_id) AS rn
            FROM scored)
      WHERE rn <= {_K} GROUP BY x_id
    ), bwd AS (
      SELECT y_id, list_reduce(list(cs ORDER BY cs, x_id), (a, b) -> a + b)
               AS sy
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY y_id
                                         ORDER BY cs DESC, x_id) AS rn
            FROM scored)
      WHERE rn <= {_K} GROUP BY y_id
    ), m AS (
      SELECT s.x_id, s.y_id, s.cs,
             s.cs / ((f.sx + b.sy) / (2.0 * {_K})) AS margin
      FROM scored s
      JOIN fwd f ON s.x_id = f.x_id
      JOIN bwd b ON s.y_id = b.y_id
    )
    SELECT x_id, y_id, ROUND(cs, 5) AS cosine5, ROUND(margin, 5) AS margin5
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY x_id
                                       ORDER BY margin DESC, y_id) AS rn
          FROM m)
    WHERE rn = 1 AND margin > 1.0
    """,
)
def q_bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-criterion bitext mining between the even- and odd-label
    embedding halves: pairwise cosine, k-NN-average denominators in both
    directions, per-source argmax, margin > 1.0.

    Scale shape: the query side is broadcast (≤{_X_CAP} rows) so the
    pairwise scoring is a map-side broadcast join over the candidate
    side — no shuffle of the big side; the k-NN sums shuffle only
    (pairs × 1) tiny aggregates keyed by x/y.  The scored frame is
    lazily checkpointed because three consumers (fwd, bwd, final pick)
    would otherwise recompute the fold-heavy cosine pass."""
    return mine_margin_pairs(scored_pairs(spark, sf_dir))


def _bt_ivf_oracle() -> str:
    l2 = (
        "list_reduce(list_transform(generate_series(1, {d}),"
        " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )
    return f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), n AS (
      SELECT vec_id, label, e,
             sqrt(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b))
               AS nrm
      FROM v
    ), seeds AS (
      SELECT vec_id AS cell_id, e AS ce FROM n
      WHERE vec_id % {_BT_SEED_STRIDE} = 0
    ), sstep AS (
      SELECT GREATEST(1, CAST(floor(sqrt(COUNT(*))) AS BIGINT)) AS s
      FROM seeds
    ), coarse AS (
      SELECT cell_id AS coarse_id, ce AS cc FROM seeds, sstep
      WHERE cell_id % ({_BT_SEED_STRIDE} * s) = 0
    ), seed_assign AS (
      SELECT cell_id, ce, coarse_id FROM (
        SELECT sd.cell_id, sd.ce, c.coarse_id,
               ROW_NUMBER() OVER (PARTITION BY sd.cell_id
                 ORDER BY {l2.format(d=_DIM, a="sd.ce", b="c.cc")},
                          c.coarse_id) AS rn
        FROM seeds sd CROSS JOIN coarse c)
      WHERE rn = 1
    ), xs AS (
      SELECT vec_id AS x_id, e AS xe, nrm AS xn FROM n WHERE label % 2 = 0
    ), ys AS (
      SELECT vec_id AS y_id, e AS ye, nrm AS yn FROM n WHERE label % 2 = 1
    ), y_coarse AS (
      SELECT y_id, ye, yn, coarse_id FROM (
        SELECT y.y_id, y.ye, y.yn, c.coarse_id,
               ROW_NUMBER() OVER (PARTITION BY y.y_id
                 ORDER BY {l2.format(d=_DIM, a="y.ye", b="c.cc")},
                          c.coarse_id) AS rn
        FROM ys y CROSS JOIN coarse c)
      WHERE rn <= {_BT_IVF_PROBE}
    ), y_assign AS (
      SELECT y_id, ye, yn, cell_id FROM (
        SELECT y.y_id, y.ye, y.yn, sa.cell_id,
               ROW_NUMBER() OVER (PARTITION BY y.y_id
                 ORDER BY {l2.format(d=_DIM, a="y.ye", b="sa.ce")},
                          sa.cell_id) AS rn
        FROM y_coarse y JOIN seed_assign sa ON sa.coarse_id = y.coarse_id)
      WHERE rn = 1
    ), x_coarse AS (
      SELECT x_id, xe, xn, coarse_id FROM (
        SELECT x.x_id, x.xe, x.xn, c.coarse_id,
               ROW_NUMBER() OVER (PARTITION BY x.x_id
                 ORDER BY {l2.format(d=_DIM, a="x.xe", b="c.cc")},
                          c.coarse_id) AS rn
        FROM xs x CROSS JOIN coarse c)
      WHERE rn <= {_BT_IVF_PROBE}
    ), x_probe AS (
      SELECT x_id, xe, xn, cell_id FROM (
        SELECT x.x_id, x.xe, x.xn, sa.cell_id,
               ROW_NUMBER() OVER (PARTITION BY x.x_id
                 ORDER BY {l2.format(d=_DIM, a="x.xe", b="sa.ce")},
                          sa.cell_id) AS rn
        FROM x_coarse x JOIN seed_assign sa ON sa.coarse_id = x.coarse_id)
      WHERE rn <= {_BT_IVF_PROBE}
    ), scored AS (
      SELECT x.x_id, y.y_id,
             list_reduce(list_transform(generate_series(1, {_DIM}),
                                        i -> x.xe[i] * y.ye[i]),
                         (a, b) -> a + b) / (x.xn * y.yn) AS cs
      FROM x_probe x JOIN y_assign y ON x.cell_id = y.cell_id
    ), fwd AS (
      SELECT x_id, list_reduce(list(cs ORDER BY cs, y_id), (a, b) -> a + b)
               AS sx
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY x_id
                                         ORDER BY cs DESC, y_id) AS rn
            FROM scored)
      WHERE rn <= {_K} GROUP BY x_id
    ), bwd AS (
      SELECT y_id, list_reduce(list(cs ORDER BY cs, x_id), (a, b) -> a + b)
               AS sy
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY y_id
                                         ORDER BY cs DESC, x_id) AS rn
            FROM scored)
      WHERE rn <= {_K} GROUP BY y_id
    ), m AS (
      SELECT s.x_id, s.y_id, s.cs,
             s.cs / ((f.sx + b.sy) / (2.0 * {_K})) AS margin
      FROM scored s
      JOIN fwd f ON s.x_id = f.x_id
      JOIN bwd b ON s.y_id = b.y_id
    )
    SELECT x_id, y_id, ROUND(cs, 5) AS cosine5, ROUND(margin, 5) AS margin5
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY x_id
                                       ORDER BY margin DESC, y_id) AS rn
          FROM m)
    WHERE rn = 1 AND margin > 1.0
    """


def bitext_ivf_scored(
    spark: SparkSession, sf_dir: str, *, checkpoint: bool = True
) -> DataFrame:
    """IVF-blocked pairwise scoring: route BOTH language halves through a
    two-level quantizer (K = n/256 fine cells, √K coarse routing level —
    deterministic vec_id-stride rules shared with the oracle), assign each
    candidate to its 1 nearest fine cell, probe each query's
    ``_BT_IVF_PROBE`` nearest fine cells, and score cosine only within
    matched cells — Σ_cell |x_cell|·|y_cell| work instead of |X|·|Y|, and
    no query-side cap."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id", "label", to_double_vec(F.col("embedding")).alias("e")
        )
        .withColumn("nrm", l2_norm(F.col("e")))
    )
    return ivf_scored_from(emb, checkpoint=checkpoint)


def ivf_scored_from(
    emb: DataFrame, *, checkpoint: bool = True, stride: int = _BT_SEED_STRIDE
) -> DataFrame:
    """Core of the IVF blocking over an arbitrary (vec_id, label, e, nrm)
    frame — split out so the planted-pair referee can feed a corpus with
    known cross-half twins through the exact production dataflow.

    Two-level routing (the q_semdedup_ivf scheme): K = n/256 fine cells
    (``_BT_SEED_STRIDE`` vec_id-stride seeds — constant expected cell
    SIZE, so blocked pairs grow linearly with the corpus) and C = √K
    coarse centroids (every s-th seed, s = ⌊√K⌋, expressed as a modulus so
    no global row_number / SinglePartition is ever needed).  Every fine
    seed hangs off its nearest coarse cell; each vector scores the C
    coarse centroids, then only the fine seeds routed to its
    ``_BT_IVF_PROBE`` nearest coarse cells — n·√K·(1+P) distance folds
    instead of n·K.  Candidates (odd labels) take their single nearest
    fine cell; queries (even labels) probe their ``_BT_IVF_PROBE`` nearest
    fine cells.  Every argmin tie-breaks on id, so the routing is
    value-deterministic and the DuckDB oracle applies the identical rule.
    """
    import math

    # One scan of the source feeds seeds, coarse, and both halves — without
    # the checkpoint the optimizer re-plans the whole subtree (scan + the
    # triple clean-filter folds + seed_assign's sort-aggregate) once per
    # consumer: six FileScans and two seed_assign aggregations in one plan
    # (r17, guide §1.2/§5).  Lazy local checkpoints: each materializes at
    # most once, at first use.
    emb = emb.localCheckpoint(eager=False)
    seeds = emb.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("e").alias("ce")
    )
    k = seeds.count()  # one tiny job over an n/stride-row frame
    s = max(1, math.isqrt(k))
    coarse = (
        seeds.filter(F.col("cell_id") % (stride * s) == 0)
        .select(F.col("cell_id").alias("coarse_id"), F.col("ce").alias("cc"))
        .localCheckpoint(eager=False)
    )

    # fine seed → nearest coarse cell (K·C folds, both tiny + broadcast)
    d_sc = _l2sq(F.col("ce"), F.col("cc"))
    seed_assign = (
        seeds.crossJoin(F.broadcast(coarse))
        .select(
            "cell_id",
            F.struct(d_sc.alias("d"), F.col("coarse_id"), F.col("ce")).alias(
                "s"
            ),
        )
        .groupBy("cell_id")
        .agg(F.min("s").alias("s"))
        .select(
            "cell_id",
            F.col("s.coarse_id").alias("coarse_id"),
            F.col("s.ce").alias("ce"),
        )
        .localCheckpoint(eager=False)  # shared by both routes — compute once
    )

    def _route(side: DataFrame, id_col: str, e_col: str, keep: int) -> DataFrame:
        """Two-level route: P nearest coarse cells (n·C folds, broadcast),
        then the ``keep`` nearest fine seeds among those cells' seeds
        (n·P·(K/C) folds, broadcast equi-join on coarse_id).

        NOTE r18: a skinny-window variant (project to (id, cell, d)
        before the top-k exchanges, re-attach the vector by a join after
        the cut — guide §2.3) was measured and REVERTED: this expression
        route now only runs on the small arm (K ≤ _BT_Y_BCAST_MAX_CELLS;
        the numpy batch arm covers the middle sizes), where the two extra
        joins cost more than the tiny payload shuffle they save
        (sf0.1 A/B: 3.04 s vs 3.57 s min-of-3)."""
        d_vc = _l2sq(F.col(e_col), F.col("cc"))
        probed = (
            side.crossJoin(F.broadcast(coarse))
            .withColumn("d", d_vc)
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy(id_col).orderBy("d", "coarse_id")
                ),
            )
            .filter(F.col("rn") <= _BT_IVF_PROBE)
            .drop("d", "rn", "cc")
        )
        d_vs = _l2sq(F.col(e_col), F.col("ce"))
        fine = (
            F.broadcast(seed_assign)
            if k <= _BT_SEED_BCAST_MAX
            else seed_assign
        )
        return (
            probed.join(fine, "coarse_id")
            .withColumn("d", d_vs)
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy(id_col).orderBy("d", "cell_id")
                ),
            )
            .filter(F.col("rn") <= keep)
            .drop("d", "rn", "ce", "coarse_id")
        )

    xs = emb.filter(F.col("label") % 2 == 0).select(
        F.col("vec_id").alias("x_id"),
        F.col("e").alias("xe"),
        F.col("nrm").alias("xn"),
    )
    ys = emb.filter(F.col("label") % 2 == 1).select(
        F.col("vec_id").alias("y_id"),
        F.col("e").alias("ye"),
        F.col("nrm").alias("yn"),
    )
    if _BT_Y_BCAST_MAX_CELLS < k <= _BT_SEED_BCAST_MAX:
        # numpy batch arm (see the module-level block comment): the fold
        # count is ~n·√K·(1+P) for routing plus Σ|x_cell|·|y_cell| for the
        # cosines — interpreted per-row folds are the bottleneck at this
        # size, so route and score in vectorized batches with the exact
        # fold order.  Coarse/seed tables collect to the driver (bounded
        # by _BT_SEED_BCAST_MAX ⇒ ≤ ~32 MB) sorted so stable argsort
        # reproduces the (d, id) tie-breaks.
        import numpy as np

        c_rows = sorted(coarse.collect(), key=lambda r: r["coarse_id"])
        cc_arr = np.array([r["cc"] for r in c_rows])
        cidx = {int(r["coarse_id"]): i for i, r in enumerate(c_rows)}
        sa_rows = sorted(
            seed_assign.collect(),
            key=lambda r: (cidx[r["coarse_id"]], r["cell_id"]),
        )
        seed_cells = np.array([r["cell_id"] for r in sa_rows], dtype=np.int64)
        se_arr = np.array([r["ce"] for r in sa_rows])
        seed_cnt = np.zeros(len(c_rows), dtype=np.int64)
        for r in sa_rows:
            seed_cnt[cidx[r["coarse_id"]]] += 1
        seed_start = np.concatenate(([0], np.cumsum(seed_cnt)[:-1]))
        x_sk = xs.select("x_id", "xe").mapInArrow(
            _np_route_factory(
                cc_arr, seed_cells, se_arr, seed_start, seed_cnt,
                _BT_IVF_PROBE, _BT_IVF_PROBE, "x_id",
            ),
            "x_id long, cell_id long",
        )
        y_sk = ys.select("y_id", "ye").mapInArrow(
            _np_route_factory(
                cc_arr, seed_cells, se_arr, seed_start, seed_cnt,
                _BT_IVF_PROBE, 1, "y_id",
            ),
            "y_id long, cell_id long",
        )
        x_probe = x_sk.join(xs, "x_id")
        y_assign = y_sk.join(ys, "y_id")
        scored = (
            x_probe.groupBy("cell_id")
            .cogroup(y_assign.groupBy("cell_id"))
            .applyInPandas(_np_pair_score, "x_id long, y_id long, cs double")
        )
        return scored.localCheckpoint(eager=False) if checkpoint else scored
    x_probe = _route(xs, "x_id", "xe", _BT_IVF_PROBE)
    y_assign = _route(ys, "y_id", "ye", 1)
    if k <= _BT_Y_BCAST_MAX_CELLS:
        # small-corpus arm (see _BT_Y_BCAST_MAX_CELLS): broadcast the
        # single-cell candidate half, round-robin the probe half so the
        # expansion stage keeps full parallelism instead of AQE's
        # one-coalesced-partition read of the tiny pre-expansion inputs
        par = emb.sparkSession.sparkContext.defaultParallelism
        x_probe = x_probe.repartition(par)
        y_assign = F.broadcast(y_assign)
    scored = x_probe.join(y_assign, "cell_id").select(
        "x_id",
        "y_id",
        cosine(F.col("xe"), F.col("ye"), F.col("xn"), F.col("yn")).alias("cs"),
    )
    return scored.localCheckpoint(eager=False) if checkpoint else scored


def mine_margin_pairs(scored: DataFrame) -> DataFrame:
    """Margin rescoring + per-source argmax over a (x_id, y_id, cs) scored
    frame — shared by the exact and IVF tiers (identical criterion; only
    the candidate generation differs)."""
    fwd = _knn_sum(scored, "x_id", "y_id", "sx")
    bwd = _knn_sum(scored, "y_id", "x_id", "sy")
    m = (
        scored.join(F.broadcast(fwd), "x_id")
        .join(F.broadcast(bwd), "y_id")
        .withColumn(
            "margin",
            F.col("cs") / ((F.col("sx") + F.col("sy")) / F.lit(2.0 * _K)),
        )
    )
    # NOTE r18: a min-of-struct argmax aggregate was measured here and
    # REVERTED — warm-for-warm at the 300x tier the window was faster
    # (26.0 s vs 31.1 s for the full margin stage) and carries no NaN
    # ordering subtleties.
    w = Window.partitionBy("x_id").orderBy(F.desc("margin"), F.asc("y_id"))
    return (
        m.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("margin") > 1.0))
        .select(
            "x_id",
            "y_id",
            F.round("cs", 5).alias("cosine5"),
            F.round("margin", 5).alias("margin5"),
        )
    )


@register("q_bitext_margin_mining_ivf", oracle=_bt_ivf_oracle())
def q_bitext_margin_mining_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-tier bitext mining — the IVF-blocked path the exact
    twin's docstring promises (VERDICT r9 #3; the `q_semdedup_ivf`
    playbook).  Same margin criterion as `q_bitext_margin_mining`, but the
    query side is UNCAPPED: a two-level IVF quantizer — K = n/256 fine
    cells (vec_id % 256 == 0 seeds) routed through a C = ⌊√K⌋ coarse
    level (one tiny count derives s; rules shared with the oracle) —
    blocks both halves; each candidate lives in its 1 nearest fine cell,
    each query probes its {_BT_IVF_PROBE} nearest fine cells, and both
    the cosine scoring and the k-NN margin denominators run within the
    blocked pairs only — the CCMatrix construction, where the margin's
    k-NN averages are computed over the FAISS-retrieved neighborhood, not
    the full corpus.

    Scale shape: coarse centroids (√K rows) and the seed routing table
    (K rows) broadcast to two map-side routing passes (n·√K·(1+P)
    distance folds, no shuffle of either half); constant fine-cell size
    keeps the blocked scoring equi-join (Σ_cell |x_cell|·|y_cell| pairs,
    never |X|·|Y|) LINEAR in the corpus — a √n-cell single level would
    make it O(n^1.5); the k-NN sums and argmax shuffle only per-key
    aggregates of the blocked pairs.  Every argmin/argmax tie-breaks on
    id and every float reduction is a sequential left fold, so the
    blocked pipeline stays value-deterministic and hash-checks against
    the DuckDB oracle applying the identical routing rule."""
    return mine_margin_pairs(bitext_ivf_scored(spark, sf_dir))
