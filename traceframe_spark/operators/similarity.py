"""Similarity search over embedding columns (``array<float>``).

Three tiers:

- :func:`cosine_topk` — exact brute force. The query side broadcasts;
  dot products are JVM array lambdas in float64. Right answer, O(n·q)
  — the baseline and the verifier for the approximate paths.
- :func:`hyperplane_lsh_topk` — approximate: random-hyperplane
  signatures put candidates into buckets; exact cosine re-ranks within
  buckets. Banded multi-probe trades recall for bucket size. At 100 TB
  the bucket join replaces the full cross product — cost follows bucket
  occupancy, not corpus size.
- :func:`ivf_topk` — approximate: an inverted-file (IVF) index. A
  k-means coarse quantizer (trained on a bounded, hash-deterministic
  sample on the driver) partitions the corpus into inverted lists;
  each query probes its ``nprobe`` nearest lists and exact cosine
  re-ranks the candidates. Candidate cost is ~``nprobe/n_centroids``
  of the corpus per query — the standard IVF scale trade — and list
  assignment is a pure JVM expression, so the corpus-side pass is one
  codegen stage with no Python.

No reference analogue (the reference has no vector ops); this is part of
the training-data-pipeline surface the engine adds (BASELINE.json
north_star).
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dlit(v) -> str:
    """One float64 as a Spark SQL double literal. Finite values use the
    exact ``repr`` string round-trip (``CAST('<repr>' AS DOUBLE)`` parses
    to the identical float64 — the form every oracle replays); non-finite
    values need the named special literals, because ``repr`` yields
    ``'inf'``/``'nan'`` which a string cast maps to NULL (or an ANSI
    error) — a silent signature/distance corruption if a degenerate
    centroid or plane ever carries one."""
    v = float(v)
    if math.isfinite(v):
        return f"CAST('{v!r}' AS DOUBLE)"
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    return f"CAST('{'Infinity' if v > 0 else '-Infinity'}' AS DOUBLE)"


def dot_f64(a: Column, b: Column) -> Column:
    """Float64 dot product of two array<float> columns, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sidecar_write(spark, index_path: str, centroids: list[list[float]]) -> None:
    """Write the centroid sidecar through the Hadoop FileSystem API so
    the index works on ANY storage the cluster can reach (local, HDFS,
    s3a, ...) — a plain ``open()`` would silently bind the index to the
    driver's local disk, contradicting the partition-pruning design."""
    import json

    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(index_path + "/_centroids.json")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(centroids).encode("utf-8")))
    finally:
        out.close()


def _sidecar_read(spark, index_path: str) -> list[list[float]]:
    import json

    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(index_path + "/_centroids.json")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(p)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(data)


def _ivf_resolve(spark, index_path: str) -> tuple[list[list[float]], dict | None]:
    """(centroids, manifest-or-None) for a persisted IVF index,
    protocol auto-detected: a manifest-protocol index resolves ONE
    manifest — the centroids ride in its meta, committed atomically
    with the inverted lists they describe, and the SAME manifest serves
    every subsequent list read (whole-index snapshot consistency under
    a concurrent append); a sidecar index reads the JSON sidecar."""
    from traceframe_spark.streaming import manifest_store as MS

    if MS.is_manifest_store(spark, index_path):
        man, cents = MS.resolve_required_meta(
            spark, index_path, "ivf_centroids", "write_ivf_index"
        )
        return cents, man
    return _sidecar_read(spark, index_path), None


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def _dim_checked(vec: Column, dim: int) -> Column:
    """Fail fast on a vector/``dim`` mismatch: ``zip_with`` null-pads a
    length mismatch, which silently zeroes every signature bit and
    collapses the whole corpus into one LSH bucket (degenerating the
    bucket join to O(n²)). Raising beats that silent collapse."""
    return F.when(F.size(vec) == dim, vec).otherwise(
        F.raise_error(
            F.format_string(
                f"embedding dimension %s does not match configured dim={dim}",
                F.size(vec),
            )
        )
    )


def _rerank_topk(cands: DataFrame, k: int) -> DataFrame:
    """Shared exact re-rank for the approximate tiers: candidates carry
    (qid, cid, q_vec, q_nrm, c_vec, c_nrm); score with the SAME 1e-4
    quantized cosine grid as :func:`cosine_topk`'s default (so the
    approximate paths stay verifiable against the exact baseline), then
    per-query row_number top-k with the cid tie-break."""
    cos = F.floor(
        dot_f64(F.col("q_vec"), F.col("c_vec")) / (F.col("q_nrm") * F.col("c_nrm")) * 10000
        + F.lit(0.5)
    ).cast("long")
    scored = cands.select("qid", "cid", cos.alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    quantize: int | None = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    ``queries`` must be small (it broadcasts). Output: (qid, cid, cos, rn).
    ``quantize`` floors the cosine at 10^-q before ranking for
    reproducible cross-engine ordering; pass None for raw doubles.
    """
    c = corpus.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_nrm"),
    )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_nrm"),
    )
    cos = dot_f64(F.col("q_vec"), F.col("c_vec")) / (F.col("q_nrm") * F.col("c_nrm"))
    if quantize is not None:
        cos = F.floor(cos * (10**quantize) + F.lit(0.5)).cast("long")
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col("qid"))
        .select("qid", "cid", cos.alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )


def _check_disjoint_ids(src: DataFrame, tgt: DataFrame, id_col: str) -> None:
    """Enforce the bitext-mining CONTRACT that ``src`` and ``tgt`` ids
    come from disjoint namespaces: the underlying top-k excludes
    self-pairs by id, so a shared id would SILENTLY drop that candidate
    from one direction. One bounded semi-join probe (limit 1 — stops at
    the first clash, never materializes the overlap); callers that have
    already shifted one side's ids can pass ``check_disjoint=False`` to
    skip the job."""
    clash = (
        src.select(F.col(id_col).alias("_id"))
        .join(tgt.select(F.col(id_col).alias("_id")), "_id", "left_semi")
        .limit(1)
        .collect()
    )
    if clash:
        raise ValueError(
            f"bitext mining: src and tgt share id {clash[0]['_id']} — the "
            "two tables must use disjoint id namespaces (shift one side's "
            "ids, e.g. tgt_id + offset, before mining)"
        )


def bitext_margin_from_topk(fwd: DataFrame, bwd: DataFrame, quantize: int = 4) -> DataFrame:
    """The margin algebra of Artetxe & Schwenk mining, agnostic to where
    the two top-k frames came from (exact :func:`cosine_topk`, the LSH
    tier, or a persisted IVF index — all score on the shared 1e-4
    cosine grid).

    ``fwd``: (qid=src_id, cid=tgt_id, cos) — each src's top-k in tgt.
    ``bwd``: (qid=tgt_id, cid=src_id, cos) — each tgt's top-k in src.
    Output: (src_id, tgt_id, margin_q) — per src, the argmax-margin tgt
    among its fwd candidates, ``margin = 2·cos / (mean fwd-kNN cos of
    src + mean bwd-kNN cos of tgt)``, deterministic tie-breaks.

    With APPROXIMATE top-k frames two honest drop modes exist (both are
    recall effects, instrumented by :func:`bitext_ann_agreement`): a
    src with zero retrieved candidates mines nothing, and a fwd
    candidate whose tgt retrieved nothing in the bwd direction has no
    kNN mean — the inner join drops it rather than fake a
    neighborhood-density estimate."""
    mean_fwd = fwd.groupBy("qid").agg(F.avg("cos").alias("mf"))
    mean_bwd = (
        bwd.groupBy("qid").agg(F.avg("cos").alias("mb"))
        .withColumnRenamed("qid", "cid")
    )
    scored = (
        fwd.join(mean_fwd, "qid")
        .join(mean_bwd, "cid")
        .select(
            "qid",
            "cid",
            (F.lit(2.0) * F.col("cos") / (F.col("mf") + F.col("mb"))).alias("margin"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("margin").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("qid").alias("src_id"),
            F.col("cid").alias("tgt_id"),
            F.floor(F.col("margin") * (10**quantize) + F.lit(0.5))
            .cast("long")
            .alias("margin_q"),
        )
    )


def bitext_mine_best(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    quantize: int = 4,
    check_disjoint: bool = True,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk, arXiv:1811.01136
    §3, the "ratio" margin): for each src vector, the tgt candidate
    maximizing ``margin(x, y) = cos(x, y) / ((mean kNN-cos of x in tgt
    + mean kNN-cos of y in src) / 2)`` — the standard parallel-pair
    miner for multilingual training data, where raw cosine fails
    because hub vectors are everyone's nearest neighbor and the margin
    normalizes each side's neighborhood density away.

    Output: (src_id, tgt_id, margin_q) — one row per src vector,
    deterministic tie-breaks; thresholding (the usual final mining
    step, margin ≥ ~1.06 in the paper) composes on top. Cosines are
    quantized on the shared 10^-quantize grid BEFORE the margin
    arithmetic, so margins — and therefore the mined pairs — are
    engine-reproducible (means are exact sums of longs / k).

    CONTRACT: ``src`` and ``tgt`` ids must come from disjoint
    namespaces — enforced by a bounded semi-join probe (raises on the
    first shared id; ``check_disjoint=False`` skips the job if the
    caller already shifted one side's ids).

    Scale shape: ``src`` broadcasts and every (src, tgt) pair is scored
    exactly ONCE — cos(x, y) = cos(y, x), so one persisted scored-pair
    table feeds both directions' top-k windows (the fwd window
    partitions by src_id, the bwd by tgt_id: two shuffles of the pair
    table, one cross scoring). Exact — the verification baseline. When
    BOTH sides are large (two languages' crawl snapshots), use
    :func:`bitext_mine_ann`: same margin algebra
    (:func:`bitext_margin_from_topk`) over the ANN tiers' top-k frames
    instead of the broadcast cross scoring."""
    if check_disjoint:
        _check_disjoint_ids(src, tgt, id_col)
    s = src.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_nrm"),
    )
    t = tgt.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_nrm"),
    )
    cos = dot_f64(F.col("q_vec"), F.col("c_vec")) / (F.col("q_nrm") * F.col("c_nrm"))
    cos = F.floor(cos * (10**quantize) + F.lit(0.5)).cast("long")
    # persist: both directions' windows consume this frame — without it
    # the expensive part (the dim-length dot products) runs twice. The
    # cache's lifetime is tied to the returned plan (see
    # dedup._unpersist_with) so long-lived sessions don't leak one pair
    # table per call.
    pairs = t.crossJoin(F.broadcast(s)).select("qid", "cid", cos.alias("cos")).persist()
    w_f = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    fwd = (
        pairs.withColumn("rn", F.row_number().over(w_f))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", "cos")
    )
    w_b = Window.partitionBy("cid").orderBy(F.col("cos").desc(), F.col("qid").asc())
    bwd = (
        pairs.withColumn("rn", F.row_number().over(w_b))
        .filter(F.col("rn") <= k)
        .select(
            F.col("cid").alias("qid"), F.col("qid").alias("cid"), "cos"
        )  # (tgt, src) orientation, as cosine_topk(src, tgt) would emit
    )
    from traceframe_spark.operators.dedup import _unpersist_with

    return _unpersist_with(bitext_margin_from_topk(fwd, bwd, quantize), pairs)


def bitext_mine_ann(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    quantize: int = 4,
    tier: str = "lsh",
    src_index_path: str | None = None,
    tgt_index_path: str | None = None,
    nprobe: int = 4,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    portable: bool = False,
    multiprobe: bool = True,
    check_disjoint: bool = True,
) -> DataFrame:
    """Corpus×corpus bitext mining: the Artetxe & Schwenk margin over
    ANN top-k frames instead of the exact broadcast cross scoring —
    the composition :func:`bitext_mine_best` is NOT (its exact tier
    broadcasts src and scores |src|×|tgt| pairs; mining two languages'
    crawl snapshots against each other needs both directions
    sub-quadratic).

    ``tier="lsh"``: each direction rides :func:`hyperplane_lsh_topk`
    (bucket join + bounded re-rank; ``portable=True`` makes the whole
    mining chain — buckets, re-rank, margins — value-replayable in
    ANSI SQL, ``multiprobe=True`` is the measured query-side recall
    lever, 0.32→0.86 portable). ``tier="ivf_index"``: each direction
    probes that side's PERSISTED IVF index
    (:func:`ivf_topk_over_index`; ``src_index_path`` indexes the src
    vectors — probed by tgt queries — and ``tgt_index_path`` the tgt
    vectors), so neither corpus is rescanned per mining run and the
    probe filter partition-prunes unprobed inverted lists.

    Both tiers emit cosines on the same 1e-4 grid as the exact tier, so
    margins are comparable across tiers and
    :func:`bitext_ann_agreement` measures the recall cost apples to
    apples. Approximate top-k means approximate neighborhood-density
    means: a mined pair can differ from the exact answer even when the
    true argmax WAS retrieved — agreement, not retrieval recall, is
    the honest instrument. Output: (src_id, tgt_id, margin_q); src rows
    with zero retrieved candidates mine nothing (see
    :func:`bitext_margin_from_topk` for the drop modes)."""
    if check_disjoint:
        _check_disjoint_ids(src, tgt, id_col)
    if quantize != 4:
        # the ANN tiers' candidate re-rank (_rerank_topk) scores on the
        # FIXED 1e-4 grid; honoring another quantize only in the margin
        # arithmetic would mix grids and silently skew agreement against
        # the exact tier
        raise ValueError(
            "bitext_mine_ann: the ANN tiers score on the fixed 1e-4 cosine "
            "grid; quantize must be 4 (use bitext_mine_best for other grids)"
        )
    if tier == "ivf_index":
        if not (src_index_path and tgt_index_path):
            raise ValueError(
                "bitext_mine_ann(tier='ivf_index') needs src_index_path and "
                "tgt_index_path (write_ivf_index per side)"
            )
        spark = src.sparkSession
        fwd = ivf_topk_over_index(
            spark, tgt_index_path, src, id_col, vec_col, k=k, nprobe=nprobe
        )
        bwd = ivf_topk_over_index(
            spark, src_index_path, tgt, id_col, vec_col, k=k, nprobe=nprobe
        )
    elif tier == "lsh":
        fwd, bwd = _lsh_topk_bidirectional(
            src, tgt, id_col, vec_col, k=k, dim=dim, n_planes=n_planes,
            bands=bands, seed=seed, portable=portable, multiprobe=multiprobe,
        )
    else:
        raise ValueError(f"bitext_mine_ann: unknown tier {tier!r} (lsh | ivf_index)")
    sel = ["qid", "cid", "cos"]
    from traceframe_spark.operators.dedup import carry_cache

    return carry_cache(
        bitext_margin_from_topk(fwd.select(*sel), bwd.select(*sel), quantize),
        fwd,
        bwd,
    )


def bitext_ann_agreement(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    quantize: int = 4,
    **ann_kwargs,
) -> DataFrame:
    """Instrument the ANN-tier mining against the exact-tier answer —
    the :func:`ivf_recall_at_k` analogue for bitext: per src vector,
    did :func:`bitext_mine_ann` mine the SAME tgt as
    :func:`bitext_mine_best`?

    Output: one row per src vector — (src_id, tgt_exact, tgt_ann,
    agree) with ``tgt_ann`` null when the ANN tier mined nothing for
    that src and ``agree`` ∈ {0, 1}. Aggregate agreement =
    avg(agree); run on a src SAMPLE before fixing the tier's knobs
    (the sample, not the corpora, bounds the exact side's broadcast
    cross scoring — same affordability argument as ivf_recall_at_k).
    ``check_disjoint`` in ``ann_kwargs`` controls the guard once for
    the whole comparison (default True; the ANN side never re-probes)."""
    check = ann_kwargs.pop("check_disjoint", True)
    exact = bitext_mine_best(
        src, tgt, id_col, vec_col, k=k, quantize=quantize, check_disjoint=check
    ).select(F.col("src_id"), F.col("tgt_id").alias("tgt_exact"))
    ann = bitext_mine_ann(
        src, tgt, id_col, vec_col, k=k, quantize=quantize,
        check_disjoint=False, **ann_kwargs,
    ).select(F.col("src_id"), F.col("tgt_id").alias("tgt_ann"))
    return exact.join(ann, "src_id", "left").select(
        "src_id",
        "tgt_exact",
        "tgt_ann",
        F.when(F.col("tgt_ann") == F.col("tgt_exact"), 1)
        .otherwise(0)
        .cast("long")
        .alias("agree"),
    )


def cosine_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    quantize: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors — BLAS kernel form of
    :func:`cosine_topk`, same answer, built for the 100 TB corpus scan.

    Two scale problems in the expression form are fixed here:

    - the per-pair dot product runs as an *interpreted* higher-order
      function (``zip_with``/``aggregate`` are JVM-side but outside
      whole-stage codegen); this kernel computes all ``m`` query dots
      for an Arrow batch of candidates as ONE float64 matrix multiply
      (``C @ Q.T``, BLAS sgemm-class throughput);
    - the final ``row_number`` window partitions by qid — with 10
      queries that is a 10-partition shuffle of the ENTIRE n×m pair
      set. Here each Arrow batch emits only its LOCAL top-k per query
      (a map-side top-k combine: top-k over a union == top-k over the
      union of per-part top-ks under the same total order), so the
      window input is ~``batches × m × k`` rows, independent of n.

    Determinism matches :func:`cosine_topk` with the same ``quantize``:
    float64 accumulation, cosine floored onto the 10^-q grid BEFORE
    ranking, ties broken on ascending candidate id. ``queries`` must be
    small (collected to the driver and shipped in the task closure —
    the same bounded-broadcast contract as cosine_topk). Ids must be
    integral; output is (qid, cid, cos, rn) with ``cos`` a quantized
    long, byte-identical to ``cosine_topk(..., quantize=q)``.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    qrows = queries.select(
        F.col(id_col).cast("long"), F.col(vec_col).cast("array<double>")
    ).collect()  # bounded: the query side, same contract as broadcast
    if not qrows:
        from traceframe_spark.session import local_frame

        empty = "qid bigint, cid bigint, cos bigint, rn bigint"
        return local_frame(corpus.sparkSession, [], empty)
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    # match l2_norm: sqrt of a float64 sum of squares of the float32 values
    qnrm = np.sqrt(np.einsum("ij,ij->i", qmat, qmat))
    scale = float(10**quantize)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cids = pdf["cid"].to_numpy(dtype=np.int64)
            cmat = np.array(list(pdf["vec"]), dtype=np.float64)
            cnrm = np.sqrt(np.einsum("ij,ij->i", cmat, cmat))
            cos = (cmat @ qmat.T) / np.outer(cnrm, qnrm)  # (n, m) float64
            q = np.floor(cos * scale + 0.5).astype(np.int64)
            out_q, out_c, out_s = [], [], []
            for j in range(len(qids)):
                mask = cids != qids[j]
                col, ids = q[mask, j], cids[mask]
                if len(ids) == 0:
                    continue
                # local top-k under the global order (cos desc, cid asc)
                top = np.lexsort((ids, -col))[:k]
                out_q.append(np.full(len(top), qids[j], dtype=np.int64))
                out_c.append(ids[top])
                out_s.append(col[top])
            if out_q:
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(out_q),
                        "cid": np.concatenate(out_c),
                        "cos": np.concatenate(out_s),
                    }
                )

    partial = corpus.select(
        F.col(id_col).cast("long").alias("cid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).mapInPandas(kernel, "qid bigint, cid bigint, cos bigint")
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        partial.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", "cos", "rn")
    )


def nearest_centroid_scan(
    df: DataFrame,
    cids: "np.ndarray",
    cmat: "np.ndarray",
    id_col: str,
    vec_col: str,
    quantize: int = 4,
    keep_vec: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment as ONE ``mapInPandas`` scan: the
    centroid matrix rides in the task closure, each Arrow batch scores
    all k centroids with a single float64 matrix multiply, and the
    argmax applies the engine's shared rule (quantized cosine desc,
    ties → lowest centroid id; ``cids`` MUST be sorted ascending so
    numpy's first-max argmax lands on the lowest id).

    The kernel counterpart of :func:`vectorprep.assign_centroids`
    (same rule, same ``cos_q`` grid): where the expression form window-
    shuffles the full n×k score set, this assigns in place with no
    shuffle — the building block for SemDeDup clustering and Lloyd
    iterations, where the vector must ride along to the next stage
    (``keep_vec=True``). Output (centroid_id, vec_id, cos_q[, vec]).
    """
    if not (np.diff(cids) > 0).all():
        raise ValueError("cids must be strictly ascending")
    cnrm = np.sqrt(np.einsum("ij,ij->i", cmat, cmat))
    scale = float(10**quantize)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            vmat = np.array(list(pdf["vec"]), dtype=np.float64)
            vnrm = np.sqrt(np.einsum("ij,ij->i", vmat, vmat))
            q = np.floor(
                (vmat @ cmat.T) / np.outer(vnrm, cnrm) * scale + 0.5
            ).astype(np.int64)
            best = q.argmax(axis=1)  # first max = lowest centroid id
            out = {
                "centroid_id": cids[best],
                "vec_id": ids,
                "cos_q": q[np.arange(len(ids)), best],
            }
            if keep_vec:
                out["vec"] = pdf["vec"]
            yield pd.DataFrame(out)

    schema = "centroid_id bigint, vec_id bigint, cos_q bigint"
    if keep_vec:
        schema += ", vec array<double>"
    return df.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).mapInPandas(run, schema)


def knn_predict(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    quantize: int | None = 4,
) -> DataFrame:
    """k-NN weak labeling over a labeled embedding corpus: each query
    takes the MAJORITY label of its exact top-k cosine neighbors —
    the classic semi-supervised label-propagation step a curation
    pipeline uses to extend a small labeled seed over an unlabeled
    corpus (and, inverted, to audit labels: a row whose neighbors
    out-vote its own label is a labeling-error candidate, the
    relational form of confident-learning screens).

    Election is deterministic: vote count desc, then the SMALLEST
    label id (the tie a SQL oracle can replay). Output
    (qid, pred_label, votes, best_cos) where best_cos is the winning
    label's best quantized neighbor cosine — the confidence signal a
    downstream gate thresholds on.

    Scale shape: the top-k comes from :func:`cosine_topk` (queries
    broadcast, candidate side streamed once); everything after is a
    k-row-per-query aggregation — at 100 TB the corpus pass dominates
    and the IVF/ADC tiers substitute for it unchanged (any
    (qid, cid, cos) top-k feeds the same election)."""
    top = cosine_topk(corpus, queries, id_col, vec_col, k=k, quantize=quantize)
    labels = corpus.select(
        F.col(id_col).alias("cid"), F.col(label_col).alias("_lbl")
    )
    votes = (
        top.join(labels, "cid")
        .groupBy("qid", "_lbl")
        .agg(
            F.count("*").cast("long").alias("votes"),
            F.max("cos").alias("best_cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("votes").desc(), F.col("_lbl").asc()
    )
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "qid",
            F.col("_lbl").cast("long").alias("pred_label"),
            "votes",
            "best_cos",
        )
    )


def collect_centroids(
    centroids: DataFrame, id_col: str, vec_col: str
) -> tuple["np.ndarray", "np.ndarray"]:
    """Collect a (small) centroid DataFrame to the sorted (cids, cmat)
    numpy pair :func:`nearest_centroid_scan` expects — the bounded
    broadcast side, k rows."""
    rows = centroids.select(
        F.col(id_col).cast("long"), F.col(vec_col).cast("array<double>")
    ).collect()  # bounded: k centroid rows
    if not rows:
        raise ValueError("centroids must be non-empty")
    rows.sort(key=lambda r: r[0])
    return (
        np.array([r[0] for r in rows], dtype=np.int64),
        np.array([r[1] for r in rows], dtype=np.float64),
    )


def semdedup_pairs(
    corpus: DataFrame,
    centroids: DataFrame | None,
    id_col: str,
    vec_col: str,
    min_cos_q: int = 3000,
    quantize: int = 4,
    block: int = 1024,
    _pre: tuple["np.ndarray", "np.ndarray"] | None = None,
) -> DataFrame:
    """Semantic near-duplicate pairs, SemDeDup-shaped (cluster first,
    compare only within a cluster — Abbas et al. 2023, arXiv:2303.09540).

    Two stages, one shuffle:

    1. **Assign** — every vector goes to its nearest centroid by
       quantized cosine (ties → lowest centroid id, the same argmax rule
       as ``vectorprep.assign_centroids``), computed per Arrow batch as
       one float64 matrix multiply against the broadcast centroid
       matrix. No shuffle, and the vector rides along to stage 2 —
       assigning via the expression form would either re-scan the corpus
       or window-shuffle the full n×k score set.
    2. **Compare** — ``applyInPandas`` per cluster builds the pairwise
       cosine Gram in ``block``-row stripes (memory O(block × occupancy),
       never the full occupancy² matrix at once) and emits only pairs at
       ``cos_q >= min_cos_q`` with ``id_a < id_b``.

    At 100 TB the pair cost follows cluster occupancy, never O(n²) —
    choose k so n/k keeps occupancy² tractable (SemDeDup uses n/k on the
    order of 10³-10⁴); a skewed cluster bounds a single task, exactly
    like an LSH bucket. Scores are floor-quantized longs on the 10^-q
    grid (float64 dot / norm product), so results verify against a SQL
    oracle. Output: (centroid_id, id_a, id_b, cos_q).

    Downstream, the pairs drop into the existing dedup machinery
    (``graph.connected_components`` → keep-canonical), same as the
    MinHash/SimHash candidate streams.
    """
    return _semdedup_pairs_ac(
        corpus, centroids, id_col, vec_col,
        min_cos_q=min_cos_q, quantize=quantize, block=block, _pre=_pre,
    ).select("centroid_id", "id_a", "id_b", "cos_q")


def _semdedup_pairs_ac(
    corpus: DataFrame,
    centroids: DataFrame | None,
    id_col: str,
    vec_col: str,
    min_cos_q: int = 3000,
    quantize: int = 4,
    block: int = 1024,
    _pre: tuple["np.ndarray", "np.ndarray"] | None = None,
) -> DataFrame:
    """:func:`semdedup_pairs` plus each endpoint's assignment cosine
    (``ac_a``/``ac_b``, the scan's ``cos_q`` carried through the pair
    kernel at zero extra arithmetic). :func:`semdedup_keep`'s election
    reads the per-member cosine from HERE instead of re-running the
    assignment scan over the whole corpus — every component member
    appears in at least one pair by construction, so the pair set
    carries every cosine the election needs."""
    if _pre is None and centroids is None:
        raise ValueError(
            "semdedup_pairs needs a centroids DataFrame (or a "
            "pre-collected (cids, cmat) pair via _pre)"
        )
    cids, cmat = (
        _pre if _pre is not None
        else collect_centroids(centroids, "centroid_id", vec_col)
    )
    ascale = float(10**quantize)
    assigned = nearest_centroid_scan(
        corpus, cids, cmat, id_col, vec_col, quantize=quantize, keep_vec=True
    ).select(
        "centroid_id", F.col("vec_id").alias("id"), F.col("cos_q").alias("_ac"), "vec"
    )

    def gram(pdf):
        import pandas as pd

        out = {
            "centroid_id": [], "id_a": [], "id_b": [], "cos_q": [],
            "ac_a": [], "ac_b": [],
        }
        n = len(pdf)
        if n >= 2:
            order = np.argsort(pdf["id"].to_numpy(dtype=np.int64), kind="stable")
            ids = pdf["id"].to_numpy(dtype=np.int64)[order]
            acs = pdf["_ac"].to_numpy(dtype=np.int64)[order]
            vmat = np.array(list(pdf["vec"].iloc[order]), dtype=np.float64)
            nrm = np.sqrt(np.einsum("ij,ij->i", vmat, vmat))
            ctr = int(pdf["centroid_id"].iloc[0])
            for lo in range(0, n, block):
                hi = min(lo + block, n)
                stripe = np.floor(
                    (vmat[lo:hi] @ vmat.T) / np.outer(nrm[lo:hi], nrm) * ascale + 0.5
                ).astype(np.int64)
                rr, cc = np.nonzero(stripe >= min_cos_q)
                keep = rr + lo < cc  # strict upper triangle: id_a < id_b
                rr, cc = rr[keep], cc[keep]
                out["centroid_id"].extend([ctr] * len(rr))
                out["id_a"].extend(ids[rr + lo])
                out["id_b"].extend(ids[cc])
                out["cos_q"].extend(stripe[rr, cc])
                out["ac_a"].extend(acs[rr + lo])
                out["ac_b"].extend(acs[cc])
        return pd.DataFrame(out, dtype=np.int64)

    return assigned.groupBy("centroid_id").applyInPandas(
        gram,
        "centroid_id bigint, id_a bigint, id_b bigint, cos_q bigint, "
        "ac_a bigint, ac_b bigint",
    )


def semdedup_keep(
    corpus: DataFrame,
    centroids: DataFrame | None,
    id_col: str,
    vec_col: str,
    min_cos_q: int = 3000,
    quantize: int = 4,
    block: int = 1024,
    keep: str = "far",
    _pre: tuple["np.ndarray", "np.ndarray"] | None = None,
) -> DataFrame:
    """The full SemDeDup keep decision (Abbas et al. 2023,
    arXiv:2303.09540 §2), end to end: cluster → within-cluster
    semantic-duplicate pairs (:func:`semdedup_pairs`) → connected
    components → elect ONE survivor per duplicate group → return the
    kept corpus rows, each labeled with its assigned centroid.

    The election is the paper's: within a duplicate group, keep the
    member with the LOWEST cosine to its cluster centroid
    (``keep="far"`` — boundary examples carry more information than
    redundant prototypes), ties to the lowest id; ``keep="near"``
    inverts the rule (prototype retention, the convention some
    dedup-for-eval setups prefer). Both are deterministic on the
    quantized ``10^-quantize`` grid, so the whole decision — argmax
    assignment, pair threshold, transitive grouping, election —
    replays in ANSI SQL and is value-verified by the
    ``semdedup_keep`` oracle, not just recall-tested.

    Scale shape: two no-shuffle corpus scans (one assignment scan
    feeding the pair kernel inside :func:`_semdedup_pairs_ac`, one for
    the kept rows' centroid label), pair cost bounded by cluster
    occupancy² exactly as SemDeDup prescribes, then component
    resolution over the PAIR set only (duplicate mass, not corpus
    mass) and one broadcast-able anti-join. The election's per-member
    centroid cosine rides the pair rows themselves (``ac_a``/``ac_b``
    — every component member appears in at least one pair), so the
    election never touches the corpus. Singletons — the overwhelming
    majority at production thresholds — never enter the component
    machinery at all.
    """
    if keep not in ("far", "near"):
        raise ValueError(f"keep must be 'far' or 'near', got {keep!r}")
    from traceframe_spark.operators.graph import connected_components

    # collect the (bounded, k-row) centroid set ONCE and hand the numpy
    # pair to the pair kernel too — the naive form collected the same
    # frame twice, and when the frame is a parallelized local relation
    # each collect is a full Python-worker roundtrip job
    if _pre is None and centroids is None:
        raise ValueError(
            "semdedup_keep needs a centroids DataFrame (or a "
            "pre-collected (cids, cmat) pair via _pre)"
        )
    cids, cmat = (
        _pre if _pre is not None
        else collect_centroids(centroids, "centroid_id", vec_col)
    )
    # the pair set is consumed twice (component contraction + the
    # election's per-member cosine); localCheckpoint pins it so the
    # corpus-wide pair kernel runs ONCE — lazy, so the contraction
    # loop's first fingerprint job materializes it as a side effect.
    # Bounded: duplicate mass only, never corpus mass (SCALING.md
    # localCheckpoint inventory).
    pairs = _semdedup_pairs_ac(
        corpus, centroids, id_col, vec_col,
        min_cos_q=min_cos_q, quantize=quantize, block=block,
        _pre=(cids, cmat),
    ).localCheckpoint(eager=False)
    comp = connected_components(pairs, "id_a", "id_b")
    assigned = nearest_centroid_scan(
        corpus, cids, cmat, id_col, vec_col, quantize=quantize
    )
    # per-member assignment cosine straight off the pair set — the
    # cosine is a function of the id, so min() just deduplicates; the
    # old form joined comp against a SECOND full assignment scan of
    # the corpus (one extra Python-boundary pass + an id-keyed shuffle
    # of corpus-sized output, for duplicate-mass-sized information)
    acs = (
        pairs.select(F.col("id_a").alias("id"), F.col("ac_a").alias("_ac"))
        .unionByName(
            pairs.select(F.col("id_b").alias("id"), F.col("ac_b").alias("_ac"))
        )
        .groupBy("id")
        .agg(F.min("_ac").alias("_ac"))
    )
    member = comp.join(acs, "id")
    order = (
        [F.col("_ac").asc(), F.col("id").asc()]
        if keep == "far"
        else [F.col("_ac").desc(), F.col("id").asc()]
    )
    w = Window.partitionBy("component").orderBy(*order)
    drop = (
        member.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select("id")
    )
    kept = corpus.join(
        drop, corpus[id_col] == drop["id"], "left_anti"
    )
    return kept.join(
        assigned.select(
            F.col("vec_id").alias(id_col), "centroid_id"
        ),
        id_col,
    )


def semdedup_keep_over_index(
    spark,
    path: str,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    min_cos_q: int = 3000,
    quantize: int = 4,
    block: int = 1024,
    keep: str = "far",
    resolved: tuple[list[list[float]], dict | None] | None = None,
) -> DataFrame:
    """:func:`semdedup_keep` against a PERSISTED index's quantizer: at
    100 TB the cluster centroids don't arrive as a DataFrame argument —
    they live in the manifest IVF(-PQ) store the ingest loop folds
    into. This resolves them from ONE manifest snapshot (or the JSON
    sidecar on a sidecar-protocol index) and runs the identical keep
    decision, so batch SemDeDup sweeps and the streaming loop's
    near-dedup judge sameness against the SAME frozen quantizer — a
    doc kept here can never flip cluster when the stream later probes
    it, the coherence property two independently-trained quantizers
    can't offer. ``centroid_id`` in the output is the index's list id
    (the centroid's position in the stored quantizer). ``resolved``
    reuses an already-resolved ``(centroids, manifest)`` pair — the
    one-resolve-per-batch streaming discipline. Answer-equivalent to
    :func:`semdedup_keep` on the same centroids (pinned by test +
    the ``semdedup_index_keep`` oracle row)."""
    centroids, _man = (
        resolved if resolved is not None else _ivf_resolve(spark, path)
    )
    # the resolved centroids are ALREADY a driver-local list — hand the
    # numpy pair straight to the keep decision instead of wrapping them
    # in a parallelized relation that collect_centroids would only ship
    # back (measured: two ~1 s single-task Python-worker roundtrips per
    # probe, pure overhead). cids are the list positions, ascending —
    # exactly collect_centroids' sorted order on the old local frame.
    cids = np.arange(len(centroids), dtype=np.int64)
    cmat = np.array([[float(x) for x in c] for c in centroids], dtype=np.float64)
    return semdedup_keep(
        corpus, None, id_col, vec_col,
        min_cos_q=min_cos_q, quantize=quantize, block=block, keep=keep,
        _pre=(cids, cmat),
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def portable_hyperplane_weights(n_planes: int, dim: int) -> list[list[int]]:
    """±1 hyperplane weights derived from ``md5(f"{i}_{j}")`` bit 0 —
    the ANN counterpart of the portable MinHash families: any engine
    with md5() derives the identical matrix, so bucket assignment
    becomes value-replayable in ANSI SQL. Rademacher (±1) hyperplanes
    preserve the SimHash/sign-LSH guarantee (Achlioptas 2001 shows
    ±1 projections satisfy the same JL-style bounds as Gaussians)."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[:8], 16) & 1 else -1
            for j in range(dim)
        ]
        for i in range(n_planes)
    ]


def portable_hyperplane_signature(
    vec: Column, weights: list[list[int]], scale: int = 6
) -> Column:
    """Sign-bit signature against the md5-derived ±1 hyperplanes, on the
    10^-``scale`` round-half-up quantized embedding — every dot product
    is exact 64-bit integer arithmetic (|q| ≤ 10^scale·max|e|, dim ≤ 64
    → sums far below 2^63), so the signature is bit-identical in Spark
    and any SQL oracle, immune to float summation-order divergence.

    Shape: ONE fold over the vector updates all n_planes running dots
    per row (zip the quantized vector with the TRANSPOSED weight
    matrix, accumulate elementwise) — the same trick as
    :func:`~.dedup.minhash_signatures`. The per-plane-aggregate form
    looks equivalent but Catalyst re-inlines the quantization into
    every plane's expression and the tree grows O(n_planes·dim):
    measured 8.1 s → ~1 s for the 24-plane registry query at sf0.1,
    almost all of it plan/codegen weight, not arithmetic."""
    n_planes = len(weights)
    q = F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * F.lit(float(10**scale)) + F.lit(0.5)).cast(
            "long"
        ),
    )
    # W^T as a literal array<array<long>>: entry j holds every plane's
    # weight for vector position j, so zip_with(q, W_T) pairs each
    # quantized element with its column of the weight matrix. The three
    # literal arrays land as ONE parsed SQL expression each — building
    # them from Column objects costs O(n_planes·dim) py4j round-trips
    # PER QUERY PLAN (the _pq_lut_expr lesson: ~2 s of driver time per
    # signed side, measured on the bitext chain); the parsed tree is
    # node-identical, so every signature bit is unchanged.
    w_t = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(str(int(weights[i][j])) for i in range(n_planes)) + ")"
            for j in range(len(weights[0]))
        )
        + ")"
    )
    zeros = F.expr(
        "array(" + ", ".join("CAST(0 AS BIGINT)" for _ in range(n_planes)) + ")"
    )
    dots = F.aggregate(
        F.zip_with(q, w_t, lambda x, ws: F.transform(ws, lambda w: w * x)),
        zeros,
        lambda acc, contrib: F.zip_with(acc, contrib, lambda a, c: a + c),
    )
    pow2 = F.expr(
        "array("
        + ", ".join(f"shiftleft(CAST(1 AS BIGINT), {i})" for i in range(n_planes))
        + ")"
    )
    return F.aggregate(
        F.zip_with(
            dots,
            pow2,
            lambda d, p: F.when(d > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature of a vector against fixed random hyperplanes,
    packed into a long. Pure JVM expression.

    Same single-fold shape as :func:`portable_hyperplane_signature`
    (one pass over the vector updates every plane's running dot via the
    transposed literal weight matrix): the per-plane-aggregate form
    grows the expression tree O(n_planes·dim) and the per-plane fold
    order is preserved (position 0,1,2,… per plane), so the float sums
    — and therefore every signature bit — are unchanged."""
    n_planes = len(planes)
    # literal arrays as ONE parsed SQL expression each (py4j-cost fix,
    # see portable_hyperplane_signature); CAST('repr' AS DOUBLE) is the
    # exact string round-trip the _pq_subdist_sql oracles rely on, so
    # every weight — and every signature bit — is unchanged
    w_t = F.expr(
        "array("
        + ", ".join(
            "array("
            + ", ".join(_dlit(planes[i][j]) for i in range(n_planes))
            + ")"
            for j in range(len(planes[0]))
        )
        + ")"
    )
    dots = F.aggregate(
        F.zip_with(vec, w_t, lambda x, ws: F.transform(ws, lambda w: w * x.cast("double"))),
        F.expr("array(" + ", ".join("CAST(0.0 AS DOUBLE)" for _ in range(n_planes)) + ")"),
        lambda acc, contrib: F.zip_with(acc, contrib, lambda a, c: a + c),
    )
    pow2 = F.expr(
        "array("
        + ", ".join(f"shiftleft(CAST(1 AS BIGINT), {i})" for i in range(n_planes))
        + ")"
    )
    return F.aggregate(
        F.zip_with(
            dots,
            pow2,
            lambda d, p: F.when(d > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: hyperplane-LSH bucket join
    for candidates, exact float64 cosine filter at ``threshold``.

    The dedup counterpart of :func:`hyperplane_lsh_topk`: symmetric
    self-join (id_a < id_b) instead of query/corpus ranking. Candidate
    cost follows bucket occupancy, never O(n²).
    """
    planes = _hyperplanes(dim, n_planes, seed)
    per_band = n_planes // bands
    mask = (1 << per_band) - 1
    checked = _dim_checked(F.col(vec_col), dim)
    sig = hyperplane_signature(checked, planes)
    # named signature column so the per-band shift/mask entries read ONE
    # evaluated fold instead of re-running the n_planes x dim signature
    # per band (see hyperplane_lsh_topk.banded)
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("_sig"), b * per_band)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for b in range(bands)
        ]
    )
    keyed = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        l2_norm(F.col(vec_col)).alias("nrm"),
        sig.alias("_sig"),
    ).select(
        "id", "vec", "nrm", F.explode(blocks).alias("e")
    ).select("id", "vec", "nrm", "e.band", "e.key")
    a, b = keyed.alias("a"), keyed.alias("b")
    # dedup the candidate id pairs BEFORE scoring: a true near-dup pair
    # collides in several bands, and the dim-length dot product is the
    # expensive part — score each surviving pair exactly once
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.vec").alias("vec_a"),
            F.col("a.nrm").alias("nrm_a"),
            F.col("b.vec").alias("vec_b"),
            F.col("b.nrm").alias("nrm_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    cos = dot_f64(F.col("vec_a"), F.col("vec_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        cands.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _band_key_entries(sig: Column, bands: int, per_band: int, probe: bool) -> list[Column]:
    """Per-band (band, key) structs for a packed signature — the ONE
    definition of band-key derivation and the 1-bit multiprobe
    expansion, shared by :func:`hyperplane_lsh_topk` and
    :func:`_lsh_topk_bidirectional` so the bidirectional miner can never
    silently desynchronize from the single-direction operator."""
    mask = (1 << per_band) - 1
    entries: list[Column] = []
    for b in range(bands):
        key = F.shiftright(sig, b * per_band).bitwiseAND(F.lit(mask))
        entries.append(F.struct(F.lit(b).alias("band"), key.alias("key")))
        if probe:
            entries.extend(
                F.struct(
                    F.lit(b).alias("band"),
                    key.bitwiseXOR(F.lit(1 << j)).alias("key"),
                )
                for j in range(per_band)
            )
    return entries


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    portable: bool = False,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k cosine: candidates share ≥1 of ``bands`` blocks
    of the hyperplane signature; exact cosine re-ranks the candidates.

    Recall rises with bands (more probes) and falls with n_planes/bands
    (stricter blocks). Defaults: 4 blocks of 4 bits — cheap and ~high
    recall on clustered data. ``portable=True`` switches to the
    md5-derived ±1 integer hyperplanes (``seed`` ignored): bucket
    assignment — and therefore the whole answer, given the exact
    re-rank — becomes value-replayable in ANSI SQL.

    ``multiprobe=True`` additionally probes, per band, every bucket one
    sign-flip away from the query's own (multi-probe LSH, Lv et al.
    VLDB'07): a near neighbor that lands across a hyperplane from the
    query differs in exactly one band bit far more often than in two,
    so the 1-bit perturbations recover most cross-boundary misses. The
    expansion happens on the QUERY side only — per_band extra keys per
    band per query, corpus untouched — so the cost model stays
    "queries × probed buckets", never a corpus rescan; the standard
    recall lever when re-signaturing the corpus (more planes) is the
    expensive alternative. Measured (weakly-clustered sf0.001, 16
    planes / 4 bands, k=5): portable recall 0.32 plain → 0.86
    multiprobe; Gaussian 0.52 → 0.94 — more than the 24-plane/6-band
    no-multiprobe point (0.52) at lower signature cost."""
    planes = (
        portable_hyperplane_weights(n_planes, dim)
        if portable
        else _hyperplanes(dim, n_planes, seed)
    )
    per_band = n_planes // bands

    def banded(df: DataFrame, side: str) -> DataFrame:
        checked = _dim_checked(F.col(vec_col), dim)
        sig = (
            portable_hyperplane_signature(checked, planes)
            if portable
            else hyperplane_signature(checked, planes)
        )
        # land the signature as a NAMED column first: the band-key
        # entries reference it once per band (plus once per multiprobe
        # perturbation), and an inlined signature tree is re-evaluated
        # at every reference — the n_planes x dim fold, the dominant
        # per-row cost, paid ``bands`` times per corpus row (measured
        # 6x on the 24-plane portable query). A multiply-referenced
        # non-cheap alias stays un-inlined (CollapseProject), so the
        # fold runs once and the entries are cheap shift/mask reads.
        entries = _band_key_entries(
            F.col("_sig"), bands, per_band, multiprobe and side == "q"
        )
        return df.select(
            F.col(id_col).alias(f"{side}id"),
            F.col(vec_col).alias(f"{side}_vec"),
            l2_norm(F.col(vec_col)).alias(f"{side}_nrm"),
            sig.alias("_sig"),
        ).select(
            f"{side}id",
            f"{side}_vec",
            f"{side}_nrm",
            F.explode(F.array(*entries)).alias("e"),
        ).select(f"{side}id", f"{side}_vec", f"{side}_nrm", "e.band", "e.key")

    cq = banded(queries, "q")
    cc = banded(corpus, "c")
    cands = (
        cq.join(cc, ["band", "key"])
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", "q_vec", "q_nrm", "c_vec", "c_nrm")
        .dropDuplicates(["qid", "cid"])
    )
    return _rerank_topk(cands, k)


def _lsh_topk_bidirectional(
    src: DataFrame,
    tgt: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int,
    n_planes: int,
    bands: int,
    seed: int,
    portable: bool,
    multiprobe: bool,
) -> tuple[DataFrame, DataFrame]:
    """Both directions' hyperplane-LSH top-k — each side SIGNED ONCE.

    Two independent :func:`hyperplane_lsh_topk` calls evaluate FOUR
    signature expressions (each direction signs its corpus AND its
    queries), i.e. every vector is signed twice. Bitext mining needs
    both directions over the same two tables, so this helper computes
    one persisted (id, vec, nrm, sig) frame per side and derives each
    direction's band keys — cheap shift/mask columns — from the stored
    signature. At corpus scale that halves the dominant cost (the
    signing scan of each side); at query scale it halves the fixed
    plan/codegen weight of the signature expression tree (measured
    8.2 → ~5 s for the 25×25 registry point at sf0.1).

    Answers are bit-identical to the two independent calls: the same
    signature function, key derivation, multiprobe expansion
    (query-side only, per direction), self-pair filter, candidate
    dedup, and exact quantized re-rank."""
    from traceframe_spark.operators.dedup import _unpersist_with

    planes = (
        portable_hyperplane_weights(n_planes, dim)
        if portable
        else _hyperplanes(dim, n_planes, seed)
    )
    per_band = n_planes // bands

    def signed(df: DataFrame) -> DataFrame:
        checked = _dim_checked(F.col(vec_col), dim)
        sig = (
            portable_hyperplane_signature(checked, planes)
            if portable
            else hyperplane_signature(checked, planes)
        )
        return df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            l2_norm(F.col(vec_col)).alias("nrm"),
            sig.alias("sig"),
        ).persist()

    s_signed, t_signed = signed(src), signed(tgt)

    def keyed(df: DataFrame, side: str, probe: bool) -> DataFrame:
        entries = _band_key_entries(F.col("sig"), bands, per_band, probe)
        return df.select(
            F.col("id").alias(f"{side}id"),
            F.col("vec").alias(f"{side}_vec"),
            F.col("nrm").alias(f"{side}_nrm"),
            F.explode(F.array(*entries)).alias("e"),
        ).select(f"{side}id", f"{side}_vec", f"{side}_nrm", "e.band", "e.key")

    def direction(q_signed: DataFrame, c_signed: DataFrame) -> DataFrame:
        cands = (
            keyed(q_signed, "q", multiprobe)
            .join(keyed(c_signed, "c", False), ["band", "key"])
            .filter(F.col("qid") != F.col("cid"))
            .select("qid", "cid", "q_vec", "q_nrm", "c_vec", "c_nrm")
            .dropDuplicates(["qid", "cid"])
        )
        return _rerank_topk(cands, k)

    # the signed frames' cache lives as long as either direction's plan
    # (released by GC when both are dropped — no per-call cache leak)
    fwd = _unpersist_with(direction(s_signed, t_signed), s_signed, t_signed)
    bwd = _unpersist_with(direction(t_signed, s_signed), s_signed, t_signed)
    return fwd, bwd


# ---------------------------------------------------------------------------
# IVF (inverted-file) index
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    sample_per_centroid: int = 100,
    iters: int = 8,
    seed: int = 42,
) -> list[list[float]]:
    """Train a k-means coarse quantizer on a deterministic sample.

    The sample is the ``n_centroids * sample_per_centroid`` rows with the
    smallest ``xxhash64(id, seed)`` — a driver-bounded, order-independent
    choice (O(sample) driver memory regardless of corpus size; the scan
    is a TakeOrderedAndProject, no full sort). Lloyd iterations run in
    numpy with centroids initialized to evenly spaced sample rows after
    an id sort, so training is bit-reproducible across partitionings.
    """
    n_sample = n_centroids * sample_per_centroid
    rows = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .orderBy(F.xxhash64(F.col("id"), F.lit(seed)), F.col("id"))
        .limit(n_sample)
        .collect()
    )
    rows.sort(key=lambda r: r["id"])
    x = np.array([r["vec"] for r in rows], dtype=np.float64)
    if len(x) < n_centroids:
        raise ValueError(f"need >= {n_centroids} vectors to train, got {len(x)}")
    idx = np.linspace(0, len(x) - 1, n_centroids).astype(int)
    cents = x[idx].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents.tolist()


def _lit_darray(vals) -> Column:
    """A literal array<double> as ONE parsed SQL expression — the
    Column-built form costs one py4j round-trip per element per plan
    (the _pq_subdist_sql lesson); CAST('repr' AS DOUBLE) string
    round-trip parses to the identical float64."""
    return F.expr(
        "array(" + ", ".join(_dlit(v) for v in vals) + ")"
    )


def _dist2(vec: Column, cent: list[float]) -> Column:
    """Squared L2 distance from an array<float> column to a fixed centroid."""
    return F.aggregate(
        F.zip_with(
            vec,
            _lit_darray(cent),
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dist2_sql(vec_sql: str, cent: list[float]) -> str:
    """:func:`_dist2` as a SQL fragment — parses to the node-identical
    aggregate/zip_with tree (same casts, same fold), without the
    per-element py4j round-trips of the Column form."""
    arr = "array(" + ", ".join(_dlit(v) for v in cent) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, "
        "(x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _ivf_pairs_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    return (
        "array("
        + ", ".join(
            f"named_struct('d', {_dist2_sql(vec_sql, c)}, 'i', {i})"
            for i, c in enumerate(centroids)
        )
        + ")"
    )


def _name_parts(name: str) -> list[str]:
    """Split a column name into its parts the way ``F.col`` does
    (Spark's ``parseAttributeName``): unquoted dots separate nested
    fields, a backticked part may hold dots, and a doubled backtick
    inside one stands for a backtick."""
    parts: list[str] = []
    cur: list[str] = []
    quoted = False
    i = 0
    while i < len(name):
        ch = name[i]
        if quoted:
            if ch != "`":
                cur.append(ch)
            elif name[i + 1:i + 2] == "`":
                cur.append("`")
                i += 1
            else:
                quoted = False
                if name[i + 1:i + 2] not in ("", "."):
                    raise ValueError(f"syntax error in attribute name: {name!r}")
        elif ch == "`":
            if cur:
                raise ValueError(f"syntax error in attribute name: {name!r}")
            quoted = True
        elif ch == ".":
            if name[i - 1:i] in ("", ".") or i == len(name) - 1:
                raise ValueError(f"syntax error in attribute name: {name!r}")
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    if quoted:
        raise ValueError(f"syntax error in attribute name: {name!r}")
    parts.append("".join(cur))
    return parts


def _vec_sql(vec: "Column | str") -> str | None:
    """SQL fragment naming the column ``F.col(vec)`` names, each part
    backtick-quoted (so ``'payload.vec'`` is the nested field and
    ``'`a.b`'`` the top-level column ``a.b``); None for a Column object
    (callers keep the Column-built tree for those)."""
    if isinstance(vec, str):
        return ".".join("`" + p.replace("`", "``") + "`" for p in _name_parts(vec))
    return None


def ivf_assign(vec: "Column | str", centroids: list[list[float]]) -> Column:
    """Nearest-centroid list id as a JVM expression: array_min over
    (dist2, idx) structs — struct ordering gives argmin with an idx
    tie-break, no UDF. Pass the vector column NAME (not a Column) to
    build the whole expression as ONE parsed SQL string — the Column
    form costs O(n_centroids · dim) py4j round-trips per plan; the
    parsed tree is node-identical, so every assignment is unchanged."""
    name = _vec_sql(vec)
    if name is not None:
        return F.expr(f"array_min({_ivf_pairs_sql(name, centroids)}).i")
    pairs = F.array(
        *[
            F.struct(_dist2(vec, c).alias("d"), F.lit(i).alias("i"))
            for i, c in enumerate(centroids)
        ]
    )
    return F.array_min(pairs)["i"]


def ivf_probe_lists(
    vec: "Column | str", centroids: list[list[float]], nprobe: int
) -> Column:
    """The ``nprobe`` nearest list ids, as an array (query-side probes).
    Same string-vs-Column contract as :func:`ivf_assign`."""
    name = _vec_sql(vec)
    if name is not None:
        return F.expr(
            f"slice(array_sort({_ivf_pairs_sql(name, centroids)}), 1, {int(nprobe)}).i"
        )
    pairs = F.array(
        *[
            F.struct(_dist2(vec, c).alias("d"), F.lit(i).alias("i"))
            for i, c in enumerate(centroids)
        ]
    )
    return F.slice(F.array_sort(pairs), 1, nprobe)["i"]


def _assigned_with_code(
    src: DataFrame,
    cols: list[Column],
    centroids: list[list[float]],
    pq: list[list[float]] | None,
    m: int,
    residual: bool,
    rotation: list[list[float]] | None,
    spread_key: str | None = None,
) -> DataFrame:
    """The shared encode projection of the IVF build AND append paths:
    (cid, c_vec, c_nrm, list_id) plus, on a PQ index, the ``code``
    column — residual to the frozen coarse centroid when ``residual``,
    OPQ-rotated when ``rotation``. Each intermediate lands as a NAMED
    column before the code expression references it: the code reads
    its input m × n_codes × (dim/m) times, and passing the
    centroid-matrix / rotation tree directly would copy that literal
    into every read (a plan large enough to OOM the driver); an
    attribute reference is one node, and CollapseProject keeps a
    non-cheap multiply-referenced alias un-inlined.

    On a PQ index the projection is CPU-BOUND (per row: the rotation's
    dim² fold plus m × n_codes × (dim/m) code distances), and a small
    corpus scans as 1-2 parquet splits — the encode then runs on 1-2
    cores of the whole cluster, ahead of the list_id exchange
    (measured: a 3.1 s single-task map stage on the OPQ build).
    ``spread_key`` hash-spreads the rows to ``defaultParallelism``
    first — scale-adaptive width, same recipe as the BPE store-encode
    path; the extra narrow shuffle is vectors only and the downstream
    list_id exchange is unchanged."""
    if pq is not None and spread_key is not None:
        from traceframe_spark.operators.dedup import spread

        src = spread(src, spread_key, cpu=True)
    base = src.select(*cols)
    if pq is None:
        return base
    dim = len(pq[0])
    if residual:
        base = base.withColumn(
            "_enc",
            ivf_residual(
                _dim_checked(F.col("c_vec"), dim), centroids, F.col("list_id")
            ),
        )
    else:
        base = base.withColumn("_enc", _dim_checked(F.col("c_vec"), dim))
    if rotation is not None:
        base = base.withColumn("_enc", F.expr(_rot_sql("_enc", rotation)))
    return base.withColumn("code", _pq_code_sql("_enc", pq, m)).drop("_enc")


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    centroids: list[list[float]] | None = None,
    mode: str = "error",
    seed: int = 42,
    protocol: str = "sidecar",
    pq_samples: list[list[float]] | int | None = None,
    pq_m: int = 8,
    pq_residual: bool = False,
    opq_rotate: bool | list[list[float]] = False,
    ids_bloom_bits: int = 1 << 20,
) -> list[list[float]]:
    """Build and persist an IVF index: the corpus lands in parquet
    PARTITIONED BY its inverted-list id, centroids ride along as a tiny
    JSON sidecar. Build once, query many — and because lists are
    directory partitions, a query's ``nprobe`` probes become *partition
    pruning* at scan time: the unprobed ``(n_centroids - nprobe) /
    n_centroids`` of a 100 TB corpus is never read, not merely filtered.
    Returns the centroids.

    ``protocol="manifest"`` commits the inverted lists AND the
    centroids in ONE atomic manifest publish
    (:func:`~traceframe_spark.streaming.manifest_store.append_parts_layer`
    with ``replace=True``): a crashed build can never leave lists
    without their quantizer (the sidecar protocol's two-step residual),
    a REBUILD retires the old lists atomically, probes are whole-index
    snapshot reads under concurrent appends, and the store is
    object-store-legal. Readers auto-detect the protocol; the probe's
    partition pruning survives — unprobed lists are never even listed
    (the manifest names each list's directories). ``mode`` keeps the
    sidecar path's semantics on the manifest path too: the default
    ``"error"`` refuses to rebuild over an index that already has live
    lists (same don't-clobber contract as ``parquet(mode="error")``),
    ``"overwrite"`` rebuilds atomically (the commit retires the old
    lists in the same publish); ``"append"`` is not a build mode —
    use :func:`append_to_ivf_index`.

    ``pq_samples`` (manifest protocol only) builds an IVF-PQ index —
    the billion-scale composition (Jégou et al. TPAMI 2011): each
    stored row additionally carries its PQ ``code``
    (:func:`pq_encode` with these codebooks), and the codebooks commit
    in the SAME manifest as centroids and lists, so a probe can score
    candidates in the compressed domain
    (:func:`ivf_adc_topk_over_index`) without touching float vectors —
    the scan side of a probe reads m bytes per candidate instead of
    dim x 4.

    ``pq_residual=True`` codes each row's RESIDUAL to its assigned
    coarse centroid instead of the raw vector — the full IVFADC
    formulation (Jégou et al. TPAMI 2011 §IV): the product quantizer
    only has to cover a centroid-sized cell, so the same code budget
    buys a finer grid wherever the data actually sits. ``pq_samples``
    must then be RESIDUAL-space codewords
    (:func:`pq_residual_codebooks` with the same centroids); probes
    build their lookup tables per probed list from ``q - c(list)``,
    and appends keep encoding against the frozen centroids+codebooks
    read from the manifest meta.

    Passing an INT as ``pq_samples`` is the production default: train
    that many codewords per subspace with :func:`pq_train_codebooks`
    (per-subspace Lloyd k-means — measurably better recall at the
    same code budget than the sampled books; see SCALING.md's
    sampled-vs-trained table), residual-space automatically when
    ``pq_residual=True``. Pass an explicit codeword list when the
    chain must replay in ANSI SQL (the registry's oracle rows use
    :func:`pq_sample_codebooks`).

    ``opq_rotate=True`` (trained path only) additionally learns ONE
    orthogonal OPQ rotation (:func:`opq_train_rotation` — Ge et al.
    CVPR 2013) on the same bounded sample, trains the books in rotated
    space, and commits the matrix in the manifest meta next to the
    codebooks: build-time encodes, streamed appends, and ADC probes
    all rotate with the SAME stored matrix (never re-derived), so
    streamed==batch parity holds on rotated indexes exactly as on
    plain ones. Recall lever at fixed code budget; see SCALING.md's
    with/without-rotation table.

    Manifest builds additionally commit an ``ids_bloom`` sidecar layer
    — a word-packed Bloom filter over the stored ids
    (``ids_bloom_bits`` wide, 5 xxhash64 probes; ~n_bits/32 long rows
    regardless of corpus size), maintained by every
    :func:`append_to_ivf_index` in the SAME atomic commit. It powers
    ID-LEVEL membership checks that never read codes or vectors: a
    negative probe proves an id was never accepted, a positive pays
    one cid-column confirm scan (see
    ``stream_embed_ingest(id_guard=...)``). Size it to the expected
    id count (1% false positives at ~n_bits/10 ids; a saturated bloom
    degrades to confirm-always, never to wrong answers)."""
    if protocol not in ("sidecar", "manifest"):
        raise ValueError(f"unknown IVF store protocol {protocol!r}")
    if pq_samples is not None and protocol != "manifest":
        raise ValueError(
            "pq_samples needs protocol='manifest' (codebooks commit "
            "atomically with the lists in the manifest meta)"
        )
    if protocol == "manifest" and mode not in ("error", "errorifexists", "overwrite"):
        raise ValueError(
            f"write_ivf_index(protocol='manifest') supports mode='error'/"
            f"'overwrite' only, got {mode!r} (incremental adds go through "
            "append_to_ivf_index)"
        )
    if pq_residual and pq_samples is None:
        raise ValueError("pq_residual=True needs pq_samples")
    if opq_rotate is True and not isinstance(pq_samples, int):
        # an explicit codeword list can't be re-trained in rotated
        # space here; to pin a frozen quantizer (parity tests, grown
        # indexes) pass the MATRIX itself as opq_rotate with books
        # already in its rotated space
        raise ValueError(
            "opq_rotate=True needs pq_samples=<int> (books are trained "
            "in rotated space); to reuse a frozen quantizer pass the "
            "rotation matrix as opq_rotate with rotated-space codewords"
        )
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, id_col, vec_col, n_centroids=n_centroids, seed=seed
        )
    rotation = None
    shared_sample = None
    if opq_rotate is True and isinstance(pq_samples, int):
        # both trainers draw the md5-bottom sample with the same salt —
        # collect it once at the larger size and hand prefixes to each
        # (identical rows; see _md5_bottom_vecs)
        shared_sample = _md5_bottom_vecs(
            corpus, id_col, vec_col, max(1024, pq_samples * 64), "pq"
        )
    if opq_rotate is True:
        rotation = opq_train_rotation(
            corpus, id_col, vec_col, m=pq_m,
            centroids=centroids if pq_residual else None,
            sample_vecs=shared_sample,
        )
    elif opq_rotate:
        rotation = [[float(x) for x in r] for r in opq_rotate]
    if isinstance(pq_samples, int):
        pq_samples = pq_train_codebooks(
            corpus, id_col, vec_col, n_codes=pq_samples, m=pq_m,
            centroids=centroids if pq_residual else None,
            rotation=rotation,
            sample_vecs=shared_sample,
        )
    cols = [
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_nrm"),
        ivf_assign(vec_col, centroids).alias("list_id"),
    ]
    assigned = _assigned_with_code(
        corpus, cols, centroids, pq_samples, pq_m, pq_residual, rotation,
        spread_key=id_col,
    )
    if protocol == "manifest":
        from traceframe_spark.streaming import manifest_store as MS

        prev = MS._latest_manifest(corpus.sparkSession, path)
        if mode in ("error", "errorifexists") and prev is not None and any(
            k.startswith("list_id=") for k in prev.get("layers", {})
        ):
            # mirror parquet's mode="error": a manifest build always
            # commits with replace semantics (that's what makes a
            # REBUILD atomic), so the don't-clobber contract has to be
            # enforced here, before any data lands
            raise IOError(
                f"IVF manifest index at {path!r} already has live lists; "
                "pass mode='overwrite' to rebuild (atomic), or use "
                "append_to_ivf_index for incremental adds"
            )
        meta: dict = {"ivf_centroids": centroids}
        if pq_samples is not None:
            meta["pq_samples"] = [[float(x) for x in w] for w in pq_samples]
            meta["pq_m"] = int(pq_m)
            meta["pq_residual"] = bool(pq_residual)
            if rotation is not None:
                # the rotation rides the manifest like the codebooks:
                # appends and probes read it back, never re-derive it
                meta["opq_rotation"] = [[float(x) for x in r] for r in rotation]
        meta["ids_bloom_bits"] = int(ids_bloom_bits)
        meta["ids_bloom_hashes"] = 5
        MS.append_parts_layer(
            corpus.sparkSession, path,
            assigned.repartition("list_id"), "list_id",
            replace=True, meta=meta, prev=prev,
            extra_layers={
                "ids_bloom": _ids_bloom_words(
                    corpus.select(F.col(id_col).alias("cid")), ids_bloom_bits
                )
            },
        )
        return centroids
    (
        assigned.repartition("list_id")
        .write.mode(mode)
        .partitionBy("list_id")
        .parquet(path)
    )
    _sidecar_write(corpus.sparkSession, path, centroids)
    return centroids


def _ids_bloom_words(ids: DataFrame, n_bits: int, n_hashes: int = 5) -> DataFrame:
    """Word-packed Bloom rows for an id frame (column ``cid``) — the
    IVF store's ``ids_bloom`` sidecar shape. xxhash64 family (the
    production ``fast`` path; id membership needs no SQL oracle)."""
    from traceframe_spark.operators.sketch import bloom_build

    return bloom_build(ids, "cid", n_hashes=n_hashes, n_bits=n_bits, fast=True)


def ivf_id_hits(
    spark,
    path: str,
    ids: DataFrame,
    id_col: str,
    man: dict | None = None,
) -> DataFrame:
    """Which of ``ids`` are ALREADY STORED in the persisted IVF index —
    confirmed id-level membership (one output column, ``id_col``),
    designed so a fresh delta never reads codes or vectors:

    1. probe the ``ids_bloom`` sidecar (n_bits/32 long rows — broadcast
       at any corpus scale) — ids missing ANY of their k bits are
       PROVEN absent and exit here;
    2. only probable members (true hits + the bloom's ~1% false
       positives) pay the confirm scan: a cid-column-only read of the
       lists (parquet column pruning — the vector/code columns never
       load) semi-joined against the broadcast candidates.

    An index without the sidecar (pre-r13 build) falls back to
    confirm-always — correct, just unpruned. ``man`` pins an
    already-resolved manifest snapshot (the streaming discipline)."""
    from traceframe_spark.operators.sketch import bloom_probable_members
    from traceframe_spark.streaming import manifest_store as MS

    if man is None:
        man = MS._latest_manifest(spark, path)
    if man is None:
        raise ValueError(f"{path!r} is not a manifest-protocol IVF index")
    cand = ids.select(F.col(id_col).alias("cid")).distinct()
    if "ids_bloom" in man.get("layers", {}):
        # localCheckpoint: the probe broadcasts the words frame once
        # per hash (k=5) — pin the read+OR-fold so it runs once, not
        # five times. <= n_bits/32 long rows.
        words = (
            MS.read_manifest_layer(spark, path, "ids_bloom", man=man)
            .groupBy("word_idx")
            .agg(F.bit_or("bits").alias("bits"))
            .localCheckpoint()
        )
        cand = bloom_probable_members(
            words, cand, "cid",
            n_hashes=int(man["meta"].get("ids_bloom_hashes", 5)),
            n_bits=int(man["meta"].get("ids_bloom_bits", 1 << 20)),
            fast=True,
        )
        if cand.isEmpty():
            return ids.select(F.col(id_col)).limit(0)
    live = [
        k.split("=", 1)[1]
        for k in man.get("layers", {})
        if k.startswith("list_id=")
    ]
    if not live:
        return ids.select(F.col(id_col)).limit(0)
    standing = MS.read_parts_layers(spark, path, man=man).select("cid")
    return (
        standing.join(F.broadcast(cand), "cid", "left_semi")
        .select(F.col("cid").alias(id_col))
        .distinct()
    )


def append_to_ivf_index(
    new_rows: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    checkpoint: str | None = None,
    batch_id: int | None = None,
    resolved: tuple[list[list[float]], dict | None] | None = None,
) -> None:
    """Incrementally maintain a persisted IVF index: assign new vectors
    to the EXISTING centroids (read from the sidecar) and append them to
    their inverted-list partitions. The coarse quantizer is frozen — the
    standard IVF maintenance contract: recall for new vectors matches
    how well the original centroids cover them, and a periodic
    :func:`write_ivf_index` rebuild re-trains when drift accumulates.

    At scale this is one narrow scan + a partitioned append of only the
    delta; existing list partitions are untouched (dynamic append writes
    new files into the probed directories only). On a MANIFEST-protocol
    index (``write_ivf_index(protocol="manifest")``) the append is one
    atomic commit: existing list directories are immutable, the delta
    lands in a fresh commit directory, and readers mid-probe keep their
    resolved snapshot. ``checkpoint``/``batch_id`` fold a streaming
    replay watermark into the same commit (see
    :func:`~traceframe_spark.streaming.embeddings.stream_embed_ingest`).
    """
    spark = new_rows.sparkSession
    centroids, man = resolved if resolved is not None else _ivf_resolve(spark, path)
    cols = [
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_nrm"),
        ivf_assign(vec_col, centroids).alias("list_id"),
    ]
    # an IVF-PQ index (pq codebooks in the manifest meta) encodes its
    # appends with the SAME frozen codebooks — residual-coded indexes
    # also subtract the same frozen centroids, OPQ indexes rotate with
    # the same stored matrix — so old and new rows score identically
    # in the compressed domain
    meta = (man or {}).get("meta", {})
    assigned = _assigned_with_code(
        new_rows, cols, centroids,
        meta.get("pq_samples"), int(meta.get("pq_m", 8)),
        bool(meta.get("pq_residual")), meta.get("opq_rotation"),
        spread_key=id_col,
    )
    if man is not None:
        from traceframe_spark.streaming import manifest_store as MS

        extra = None
        if "ids_bloom" in man.get("layers", {}):
            # the sidecar must cover EVERY stored id or its negative
            # answers lie (false negatives) — maintain it in the SAME
            # commit whenever the build created it; a pre-sidecar
            # index simply keeps not having one (confirm-always probes)
            extra = {
                "ids_bloom": _ids_bloom_words(
                    new_rows.select(F.col(id_col).alias("cid")),
                    int(man["meta"].get("ids_bloom_bits", 1 << 20)),
                    n_hashes=int(man["meta"].get("ids_bloom_hashes", 5)),
                )
            }
        MS.append_parts_layer(
            spark, path, assigned.repartition("list_id"), "list_id",
            checkpoint=checkpoint, batch_id=batch_id, prev=man,
            extra_layers=extra,
        )
        return
    if checkpoint is not None or batch_id is not None:
        raise ValueError(
            "replay watermarks need a manifest-protocol IVF index "
            "(write_ivf_index(protocol='manifest'))"
        )
    (
        assigned.repartition("list_id")
        .write.mode("append")
        .partitionBy("list_id")
        .parquet(path)
    )


def ivf_list_stats(spark, path: str, man: dict | None = None) -> DataFrame:
    """Per-inverted-list row counts of a persisted IVF index — the
    health metric incremental maintenance watches. One aggregate over
    the partition column; parquet count pushdown answers it from file
    metadata without materializing vectors. Protocol auto-detected (a
    manifest index counts over one resolved snapshot; pass ``man`` to
    pin an already-resolved one)."""
    from traceframe_spark.streaming import manifest_store as MS

    if man is not None or MS.is_manifest_store(spark, path):
        df = MS.read_parts_layers(spark, path, man=man)
    else:
        df = spark.read.parquet(path)
    return df.groupBy("list_id").agg(F.count("*").alias("n_vectors"))


def ivf_rebuild_due(
    spark,
    path: str,
    skew_bound: float = 4.0,
    min_rows_per_list: int = 64,
) -> dict:
    """Rebuild trigger for an incrementally-maintained IVF index.

    :func:`append_to_ivf_index` freezes the coarse quantizer, so a
    drifting corpus (new vectors concentrating where old centroids are
    sparse) shows up as LIST-SIZE SKEW: one inverted list absorbs the
    drift mass, its partition grows, and every probe that touches it
    re-ranks a growing candidate set — probe cost stops being
    ``~1/n_centroids`` of the corpus. The trigger fires when
    ``max_list / mean_list > skew_bound`` once lists are big enough to
    matter (``min_rows_per_list`` guards the small-index noise regime,
    where a handful of vectors make ratios meaningless).

    Returns a dict — ``{"due": bool, "max_list": int, "mean_list":
    float, "skew": float, "n_lists": int}`` — so schedulers can log WHY
    a rebuild fired, not just that it did. The rebuild itself is
    :func:`write_ivf_index` with ``centroids=None`` (re-train) and
    ``mode="overwrite"`` to a fresh path, swapped in atomically by the
    caller's catalog. Bounded driver traffic: one row per list.
    """
    stats = ivf_list_stats(spark, path).collect()
    if not stats:
        return {"due": False, "max_list": 0, "mean_list": 0.0, "skew": 0.0, "n_lists": 0}
    sizes = sorted(r["n_vectors"] for r in stats)
    mx, mean = sizes[-1], sum(sizes) / len(sizes)
    skew = mx / mean if mean else 0.0
    due = mx >= min_rows_per_list and skew > skew_bound
    return {
        "due": due,
        "max_list": mx,
        "mean_list": mean,
        "skew": skew,
        "n_lists": len(sizes),
    }


def ivf_topk_over_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    nprobe: int = 4,
    resolved: tuple[list[list[float]], dict | None] | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k cosine against a persisted IVF index (:func:`write_ivf_index`).

    The probe filter is an IN over the (tiny) union of every query's
    ``nprobe`` list ids, evaluated on the driver — so it lands in the
    scan's PartitionFilters and unprobed list directories are skipped
    entirely. Candidate re-rank matches :func:`ivf_topk`. Protocol
    auto-detected: on a manifest index the centroids AND every probed
    list come from ONE resolved manifest (whole-index snapshot — a
    concurrent append can never serve a probe centroids from one
    version and lists from another), and unprobed lists are never even
    listed (the manifest names each list's directories).

    ``exclude_self=True`` (the SEARCH default) drops ``qid == cid``
    pairs — "your nearest neighbour is yourself" is noise when querying
    an index you are part of. Pass ``False`` for ingest-style dedup
    probes, where a re-sent row carrying its ORIGINAL id must match its
    own standing copy (cosine 1.0) instead of being invisibly excluded.
    """
    centroids, man = resolved if resolved is not None else _ivf_resolve(spark, path)
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_nrm"),
        F.explode(ivf_probe_lists(vec_col, centroids, nprobe)).alias("list_id"),
    )
    probed = sorted({r["list_id"] for r in q.select("list_id").distinct().collect()})
    if man is not None:
        from traceframe_spark.streaming import manifest_store as MS

        live = {
            k.split("=", 1)[1] for k in man["layers"] if k.startswith("list_id=")
        }
        vals = [str(v) for v in probed if str(v) in live]
        if not live:
            # EMPTY index (the documented stream-bootstrap state: built
            # from an empty snapshot, nothing folded yet): zero
            # candidates, not a read error — there is no live list to
            # borrow a schema from, so synthesize the re-rank output
            # shape directly (cid shares the query ids' type domain)
            return (
                q.select("qid").limit(0)
                .select(
                    "qid",
                    F.col("qid").alias("cid"),
                    F.lit(None).cast("long").alias("cos"),
                    F.lit(None).cast("long").alias("rn"),
                )
            )
        if vals:
            pruned = MS.read_parts_layers(spark, path, vals=vals, man=man)
        else:
            # every probed list is empty (no vectors ever landed there):
            # zero candidates — borrow the schema from ONE live list
            # only (reading the whole store filter-false would build a
            # plan over ALL live directories, paying a file listing
            # that grows with store size just to learn a schema)
            one = sorted(live)[0]
            pruned = MS.read_parts_layers(
                spark, path, vals=[one], man=man
            ).filter(F.lit(False))
    else:
        corpus = spark.read.parquet(path)
        pruned = corpus.filter(F.col("list_id").isin(probed))
    cands = q.join(pruned, "list_id")
    if exclude_self:
        cands = cands.filter(F.col("qid") != F.col("cid"))
    return _rerank_topk(cands, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k cosine via an IVF index.

    Corpus rows are assigned to their nearest centroid's inverted list;
    each query explodes into its ``nprobe`` nearest lists; candidates
    come from the resulting equi-join on ``list_id`` (shuffle keyed on
    a ~n_centroids-cardinality key — at scale, pre-partition or bucket
    the corpus by ``list_id`` once and reuse across query batches);
    exact float64 cosine re-ranks. Output matches :func:`cosine_topk`:
    (qid, cid, cos[q4], rn), minus misses.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, id_col, vec_col, n_centroids=n_centroids, seed=seed
        )
    c = corpus.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_nrm"),
        ivf_assign(vec_col, centroids).alias("list_id"),
    )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_nrm"),
        F.explode(ivf_probe_lists(vec_col, centroids, nprobe)).alias("list_id"),
    )
    cands = q.join(c, "list_id").filter(F.col("qid") != F.col("cid"))
    return _rerank_topk(cands, k)


def ivf_recall_at_k(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    nprobe: int = 4,
    n_centroids: int = 16,
    centroids: list[list[float]] | None = None,
    seed: int = 42,
) -> DataFrame:
    """Measure the IVF approximation: per-query recall@k of
    :func:`ivf_topk` against the exact :func:`cosine_topk` baseline.

    Output: one row per query — (qid, n_hit, recall_q) with ``n_hit``
    the size of the approximate∩exact top-k intersection and
    ``recall_q`` = n_hit/k on the engine-portable 1e-4 grid. This is
    the operating-point instrument for the nprobe/n_centroids knobs: a
    production pipeline runs it on a query sample before fixing the
    index parameters, then monitors it as the corpus drifts (recall
    decays when new data stops matching the trained quantizer).

    Cost: one IVF probe join (shuffle keyed on ~n_centroids values)
    plus one brute-force pass over the query sample — the sample, not
    the corpus, bounds the brute-force side, so the instrument stays
    affordable at any corpus size. No reference analogue (the
    reference has no vector surface at all).
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, id_col, vec_col, n_centroids=n_centroids, seed=seed
        )
    approx = ivf_topk(
        corpus, queries, id_col, vec_col, k=k,
        nprobe=nprobe, centroids=centroids,
    )
    exact = cosine_topk(corpus, queries, id_col, vec_col, k=k)
    hits = approx.join(exact.select("qid", "cid"), ["qid", "cid"], "left_semi")
    per_q = (
        queries.select(F.col(id_col).alias("qid"))
        .join(hits.groupBy("qid").agg(F.count("*").alias("_n")), "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_hit"),
        )
    )
    recall_q = F.floor(F.col("n_hit") / F.lit(float(k)) * 10000 + F.lit(0.5)).cast("long")
    return per_q.select("qid", "n_hit", recall_q.alias("recall_q"))


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric distance computation (ADC) —
# Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
# Search" (TPAMI 2011). The memory-side scale lever the IVF tier lacks:
# a dim-64 float32 vector (256 bytes) compresses to m=8 one-byte codes
# (32x), so a 100 TB embedding corpus's scan side fits where raw
# vectors cannot, and query scoring is m table lookups per candidate
# instead of a dim-length dot product. Codebooks here are PORTABLE by
# construction: the n_codes corpus vectors with the smallest
# md5(salt|id) keys become the codewords (random-sample codebooks are
# the standard PQ baseline/init; the md5 bottom-k makes the sample
# deterministic, order-independent, mergeable — the same discipline as
# minhash_portable/percentiles_sampled), so the ENTIRE chain
# (sampling -> per-subspace assignment -> ADC ranking) replays in
# ANSI SQL and is value-verified by the oracle, not just recall-tested.
# k-means-trained codebooks drop in through the same `samples` argument
# (train_ivf_centroids-style) when reconstruction error matters more
# than replayability. No reference analogue (the reference has no
# vector operators).
# ---------------------------------------------------------------------------


def pq_sample_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_codes: int = 16,
    salt: str = "pq",
) -> list[list[float]]:
    """The ``n_codes`` corpus vectors with the smallest
    ``md5(salt|id)`` keys, in key order — codeword ``c`` of every
    subspace is the c-th sample's subvector. One bounded
    TakeOrderedAndProject (never a full sort); the collected sample is
    n_codes x dim floats, centroid-sized driver state."""
    rows = (
        corpus.select(
            F.md5(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string"))).alias(
                "h"
            ),
            F.col(vec_col).alias("v"),
        )
        .orderBy("h")
        .limit(n_codes)
        .collect()
    )
    if len(rows) < n_codes:
        raise ValueError(
            f"pq_sample_codebooks: corpus has {len(rows)} rows < n_codes={n_codes}"
        )
    return [[float(x) for x in r["v"]] for r in rows]


def _md5_bottom_vecs(
    corpus: DataFrame, id_col: str, vec_col: str, n: int, salt: str
) -> list[list[float]]:
    """The ``n`` corpus vectors with the smallest ``md5(salt|id)``
    keys, in key order, as float lists — the one bounded
    TakeOrderedAndProject every PQ/OPQ trainer draws its sample from.
    Bottom-k for a smaller k is a PREFIX of bottom-k for a larger one
    (same total order), so one collect can feed several trainers:
    ``write_ivf_index`` passes the same collected rows to
    :func:`opq_train_rotation` and :func:`pq_train_codebooks` instead
    of paying the scan + sort-limit + collect twice."""
    rows = (
        corpus.select(
            F.md5(
                F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string"))
            ).alias("h"),
            F.col(vec_col).alias("v"),
        )
        .orderBy("h")
        .limit(n)
        .collect()
    )
    return [[float(x) for x in r["v"]] for r in rows]


def pq_train_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_codes: int = 16,
    m: int = 8,
    iters: int = 8,
    sample_per_code: int = 64,
    salt: str = "pq",
    centroids: list[list[float]] | None = None,
    rotation: list[list[float]] | None = None,
    sample_vecs: list[list[float]] | None = None,
) -> list[list[float]]:
    """TRAINED per-subspace PQ codebooks — Jégou et al. TPAMI 2011
    §II's actual formulation: independent k-means sub-quantizers, one
    per subspace, instead of :func:`pq_sample_codebooks`' sampled
    corpus vectors. Sampled codewords keep the whole chain
    SQL-replayable (the registry's verification default), but their
    quantization error is substantially worse — at a fixed probe
    budget that's recall lost, so THIS is the production default
    (``write_ivf_index(pq_samples=<int>)`` routes here).

    Deterministic and driver-bounded: the training set is the
    ``n_codes * sample_per_code`` corpus rows with the smallest
    ``md5(salt|id)`` keys (one TakeOrderedAndProject — the same
    convention as :func:`pq_sample_codebooks`, whose picks are exactly
    this sample's first ``n_codes`` rows and seed the Lloyd
    iterations, so trained-vs-sampled recall comparisons share a
    starting point). Lloyd runs per subspace in float64 numpy; an
    emptied codeword keeps its current position. With ``centroids``
    given, each sampled vector is first replaced by its residual to
    its nearest coarse centroid (sequential float64, the
    :func:`pq_residual_codebooks` convention) — the IVFADC residual
    variant. With ``rotation`` given (:func:`opq_train_rotation`), each
    (residual) sample vector is rotated BEFORE the subspace split, so
    the books live in OPQ space — every consumer must then rotate its
    inputs with the same stored matrix.

    Returns the same ``n_codes x dim`` packed shape every PQ consumer
    takes (row ``c`` concatenates codeword ``c`` of each subspace), so
    :func:`pq_encode` / :func:`pq_adc_topk` /
    :func:`ivf_adc_topk_over_index` run unchanged on trained books."""
    n_sample = n_codes * sample_per_code
    if sample_vecs is not None:
        # caller-shared md5-bottom sample (prefix property — see
        # _md5_bottom_vecs); identical rows to collecting here
        vecs = [list(v) for v in sample_vecs[:n_sample]]
    else:
        vecs = _md5_bottom_vecs(corpus, id_col, vec_col, n_sample, salt)
    if len(vecs) < n_codes:
        raise ValueError(
            f"pq_train_codebooks: corpus has {len(vecs)} rows < n_codes={n_codes}"
        )
    if centroids is not None:
        res = []
        for v in vecs:
            best_i, best_d = 0, None
            for i, c in enumerate(centroids):
                d2 = 0.0
                for x, y in zip(v, c):
                    e = float(x) - float(y)
                    d2 = d2 + e * e
                if best_d is None or d2 < best_d:
                    best_i, best_d = i, d2
            cent = centroids[best_i]
            res.append([float(x) - float(y) for x, y in zip(v, cent)])
        vecs = res
    if rotation is not None:
        rmat = np.array(rotation, dtype=np.float64)
        vecs = (np.array(vecs, dtype=np.float64) @ rmat.T).tolist()
    x = np.array(vecs, dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    packed = np.array(vecs[:n_codes], dtype=np.float64)  # seed: the portable sample
    for s in range(m):
        sub = x[:, s * d : (s + 1) * d]
        cb = packed[:, s * d : (s + 1) * d].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(n_codes):
                members = sub[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        packed[:, s * d : (s + 1) * d] = cb
    return packed.tolist()


def opq_train_rotation(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    n_sample: int = 1024,
    salt: str = "pq",
    centroids: list[list[float]] | None = None,
    sample_vecs: list[list[float]] | None = None,
) -> list[list[float]]:
    """OPQ rotation (Ge et al. CVPR 2013, parametric solution): ONE
    orthogonal dim×dim matrix ``R`` applied before the subspace split,
    so the product quantizer codes ``R·x`` instead of ``x`` — the
    standard recall lever at a fixed code budget when dimensions are
    correlated or variance is unbalanced across subspaces (rotation
    preserves L2 distances, so ADC distances in rotated space ARE the
    original distances; only the quantization grid improves).

    Parametric derivation, deterministic and driver-bounded (the
    :func:`pq_train_codebooks` cost shape): second-moment matrix of
    the ``n_sample`` md5-bottom corpus rows (residuals to their
    nearest coarse centroid when ``centroids`` is given — the IVFADC
    composition rotates residual space), eigendecomposition
    (``numpy.linalg.eigh``), then EIGENVALUE ALLOCATION — walk the
    eigenvalues in descending order, assign each principal direction
    to the non-full subspace with the smallest accumulated
    log-variance product (ties to the lowest subspace index), so the
    per-subspace variance products balance (the paper's §4 criterion
    for independent sub-quantizers of equal code budget). Row
    ``s*d + j`` of ``R`` is the j-th direction allocated to subspace
    ``s``; ``R`` is orthogonal by construction (rows are orthonormal
    eigenvectors).

    NOT SQL-replayable (the eigendecomposition) — rotated indexes are
    rows-only at the gate, twinned by the unrotated ADC chain
    (``ann_ivfpq_adc``); parity tests pin streamed==batch on the
    STORED matrix, so nothing ever recomputes it."""
    if sample_vecs is not None:
        vecs = [list(v) for v in sample_vecs[:n_sample]]
    else:
        vecs = _md5_bottom_vecs(corpus, id_col, vec_col, n_sample, salt)
    if not vecs:
        raise ValueError("opq_train_rotation: empty corpus")
    if centroids is not None:
        res = []
        for v in vecs:
            best_i, best_d = 0, None
            for i, c in enumerate(centroids):
                d2 = 0.0
                for x, y in zip(v, c):
                    e = float(x) - float(y)
                    d2 = d2 + e * e
                if best_d is None or d2 < best_d:
                    best_i, best_d = i, d2
            cent = centroids[best_i]
            res.append([float(x) - float(y) for x, y in zip(v, cent)])
        vecs = res
    x = np.array(vecs, dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    cov = (x.T @ x) / len(x)
    w, u = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(-w)
    logw = np.log(np.maximum(w, 1e-12))
    buckets: list[list[int]] = [[] for _ in range(m)]
    sums = [0.0] * m
    for idx in order:
        open_s = [s for s in range(m) if len(buckets[s]) < d]
        s = min(open_s, key=lambda s: (sums[s], s))
        buckets[s].append(int(idx))
        sums[s] += float(logw[idx])
    rot = np.empty((dim, dim), dtype=np.float64)
    for s in range(m):
        for j, idx in enumerate(buckets[s]):
            rot[s * d + j] = u[:, idx]
    return rot.tolist()


def _rot_sql(vec_name: str, rotation: list[list[float]]) -> str:
    """The rotated vector ``R·x`` over a NAMED array column as ONE SQL
    string: per output coordinate, a left-associated aggregate fold
    over ``zip_with(x, row_i)`` — the same parse-don't-build discipline
    as :func:`_pq_subdist_sql` (a dim×dim Column tree would cost
    thousands of py4j round-trips per plan), with exact ``repr``
    round-tripped matrix literals."""
    coords = []
    for row in rotation:
        ws = ", ".join(_dlit(v) for v in row)
        coords.append(
            f"aggregate(zip_with({vec_name}, array({ws}), "
            f"(x, w) -> CAST(x AS DOUBLE) * w), CAST(0.0 AS DOUBLE), "
            f"(acc, t) -> acc + t)"
        )
    return "array(" + ", ".join(coords) + ")"


def ivf_residual(
    vec: Column, centroids: list[list[float]], list_id: Column
) -> Column:
    """The vector's residual to its assigned coarse centroid,
    ``r = x - c(list_id)``, as an ``array<double>`` expression — the
    quantity residual PQ encodes (Jégou et al. TPAMI 2011 §IV: code
    the residual, not the vector, so every codeword only has to cover
    a centroid-sized cell instead of the whole space). The centroid
    matrix rides as a plan literal (same discipline as
    :func:`ivf_assign`); per-element arithmetic is float64."""
    cmat = F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(_dlit(x) for x in c) + ")"
            for c in centroids
        )
        + ")"
    )
    return F.zip_with(
        vec,
        F.element_at(cmat, list_id + F.lit(1)),
        lambda x, c: x.cast("double") - c,
    )


def pq_residual_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    n_codes: int = 16,
    salt: str = "pq",
) -> list[list[float]]:
    """Residual-space portable codebooks: the same md5-bottom-k sample
    as :func:`pq_sample_codebooks`, with each sampled vector replaced
    by its residual to its nearest coarse centroid. Assignment and
    subtraction run driver-side in plain sequential float64 — term
    order matches the engine's left-associated ``_dist2`` fold and the
    SQL oracle's explicit chain, so the codebook derivation itself
    replays bit-for-bit in ANSI SQL (ties to the lowest centroid id,
    the :func:`ivf_assign` rule)."""
    samples = pq_sample_codebooks(corpus, id_col, vec_col, n_codes, salt)
    out = []
    for v in samples:
        best_i, best_d = 0, None
        for i, c in enumerate(centroids):
            d2 = 0.0
            for x, y in zip(v, c):
                e = float(x) - float(y)
                d2 = d2 + e * e
            if best_d is None or d2 < best_d:
                best_i, best_d = i, d2
        cent = centroids[best_i]
        out.append([float(x) - float(y) for x, y in zip(v, cent)])
    return out


def _pq_subdist_sql(vec_name: str, sample: list[float], s: int, d: int) -> str:
    """Squared L2 between the named vector column's subspace-s block
    and the sample's, as one SQL string: an ``aggregate`` over a
    zipped slice, i.e. a LEFT-ASSOCIATED sequential fold in dimension
    order (``0.0 + t1 + t2 + ...``) with per-element
    ``CAST(x AS DOUBLE)`` — exactly the rounding the DuckDB oracles'
    explicit ``+``-chains produce, term by term. Codeword literals are
    rendered via exact string round-trip (``CAST('repr' AS DOUBLE)``
    parses to the identical float64). The fold form keeps the
    m x n_codes expression inside whole-stage codegen's 64 KB method
    limit (a loop, not a page of adds per codeword), and the SQL-string
    form exists because building the same table from Column objects
    costs thousands of py4j round-trips PER QUERY PLAN (~4 s of driver
    time on the ADC probe, measured); one ``F.expr`` parse is
    milliseconds."""
    ws = ", ".join(_dlit(sample[s * d + j]) for j in range(d))
    return (
        f"aggregate(zip_with(slice({vec_name}, {s * d + 1}, {d}), "
        f"array({ws}), (x, c) -> (CAST(x AS DOUBLE) - c) * "
        f"(CAST(x AS DOUBLE) - c)), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
    )


def _pq_lut_expr(vec_name: str, samples: list[list[float]], m: int, d: int) -> Column:
    """The per-query ADC lookup table (m x n_codes subspace distances)
    over a NAMED vector column, as one parsed SQL expression."""
    return F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(_pq_subdist_sql(vec_name, w, s, d) for w in samples) + ")"
            for s in range(m)
        )
        + ")"
    )


def _pq_code_sql(vec_name: str, samples: list[list[float]], m: int) -> Column:
    """The PQ code array over a NAMED (already dim-checked) vector
    column: per subspace, argmin squared-L2 codeword index, ties to
    the smallest index (``array_min`` over (d2, c) structs — struct
    ordering gives the tie-break). One parsed SQL expression for the
    same py4j-cost reason as :func:`_pq_lut_expr`."""
    dim = len(samples[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    subs = []
    for s in range(m):
        structs = ", ".join(
            f"named_struct('d2', {_pq_subdist_sql(vec_name, w, s, d)}, 'c', {c})"
            for c, w in enumerate(samples)
        )
        subs.append(f"array_min(array({structs})).c")
    return F.expr("array(" + ", ".join(subs) + ")")


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    samples: list[list[float]],
    m: int = 8,
) -> DataFrame:
    """Encode vectors to PQ codes: for each of ``m`` subspaces, the
    index of the codeword (``samples``' subvector) with the smallest
    squared L2 distance, ties to the smallest index. Returns
    (id, code: array<int> of length m). Pure projection — zero
    shuffle; per-row work is m x n_codes x (dim/m) multiply-adds in
    whole-stage codegen (the literal codebook rides in the plan,
    exactly like ``ivf_assign``)."""
    dim = len(samples[0])
    return df.select(
        F.col(id_col).alias("id"),
        _dim_checked(F.col(vec_col), dim).alias("_pv"),
    ).select("id", _pq_code_sql("_pv", samples, m).alias("code"))


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    samples: list[list[float]],
    k: int = 5,
    m: int = 8,
) -> DataFrame:
    """Approximate top-k by ADC: each query precomputes its m x
    n_codes lookup table of subspace distances ONCE (a projection on
    the small query side), then every (query, code) pair scores with m
    array lookups + m-1 adds — no vector arithmetic on the corpus
    side, which is the whole point: the scan touches 1-byte codes, not
    float vectors. Queries broadcast; ranking is
    (approx_d2 asc, cid asc) per query. Returns
    (qid, cid, ad2, rn). approx_d2 is bit-deterministic across engines
    (explicit-order sums over exact float32-derived doubles), so the
    oracle replays the ranking exactly."""
    dim = len(samples[0])
    d = dim // m
    qvec = _dim_checked(F.col(vec_col), dim)
    q = queries.select(
        F.col(id_col).alias("qid"), qvec.alias("_qv")
    ).select("qid", _pq_lut_expr("_qv", samples, m, d).alias("lut"))
    pairs = codes.withColumnRenamed("id", "cid").crossJoin(F.broadcast(q))
    ad2_terms = [
        F.element_at(
            F.element_at(F.col("lut"), s + 1),
            F.element_at(F.col("code"), s + 1) + 1,
        )
        for s in range(m)
    ]
    ad2 = ad2_terms[0]
    for t in ad2_terms[1:]:
        ad2 = ad2 + t
    scored = pairs.filter(F.col("qid") != F.col("cid")).select(
        "qid", "cid", ad2.alias("ad2")
    )
    w = Window.partitionBy("qid").orderBy(F.col("ad2").asc(), F.col("cid").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )


def ann_adc_agreement(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    samples: list[list[float]],
    m: int = 8,
    quantize: int = 4,
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """Instrument the compressed (ADC) tier against the exact answer —
    the :func:`bitext_ann_agreement` methodology for PQ: per query,
    did ADC's top-1 (min approximate distance over the given
    codebooks) pick the SAME corpus vector as exact cosine's top-1?

    ONE scored-pair table feeds both argmaxes: a single corpus scan
    joins each (query, candidate) pair's exact quantized cosine AND
    its ADC distance (m lookups into the query's precomputed subspace
    table), then the two rankings are per-query row_number(1) picks
    off that shared frame — so the agreement number is a value-checked
    property of one pair universe, never two independently sampled
    runs drifting apart. Output: (qid, cid_exact, cid_adc, agree) with
    agree ∈ {0, 1}; aggregate recall@1 = avg(agree).

    Run it with :func:`pq_sample_codebooks` output for the
    SQL-replayable registry row, and with :func:`pq_train_codebooks`
    output to price the trained books' recall before fixing an
    index's quantizer — the queries side broadcasts, so size it like
    :func:`ivf_recall_at_k`'s sample. ``rotation`` evaluates
    OPQ-rotated books (:func:`opq_train_rotation`): the LUT and code
    inputs rotate, the exact-cosine side stays on raw vectors (a
    rotation can't change cosine ranks, so exact stays exact) — the
    with/without-rotation recall@1 comparison in SCALING.md."""
    dim = len(samples[0])
    d = dim // m
    qv: Column = _dim_checked(F.col(vec_col), dim)
    q = queries.select(
        F.col(id_col).alias("qid"),
        qv.alias("_qv"),
        l2_norm(F.col(vec_col)).alias("q_nrm"),
    )
    if rotation is not None:
        q = q.withColumn("_rv", F.expr(_rot_sql("_qv", rotation)))
    q = q.select(
        "qid", "_qv", "q_nrm",
        _pq_lut_expr("_rv" if rotation is not None else "_qv", samples, m, d).alias("lut"),
    )
    c = corpus.select(
        F.col(id_col).alias("cid"),
        qv.alias("_cv"),
        l2_norm(F.col(vec_col)).alias("c_nrm"),
    )
    if rotation is not None:
        c = c.withColumn("_rc", F.expr(_rot_sql("_cv", rotation)))
    c = c.select(
        "cid", "_cv", "c_nrm",
        _pq_code_sql("_rc" if rotation is not None else "_cv", samples, m).alias("code"),
    )
    cos = F.floor(
        dot_f64(F.col("_qv"), F.col("_cv")) / (F.col("q_nrm") * F.col("c_nrm"))
        * (10**quantize)
        + F.lit(0.5)
    ).cast("long")
    terms = [
        F.element_at(
            F.element_at(F.col("lut"), s + 1),
            F.element_at(F.col("code"), s + 1) + 1,
        )
        for s in range(m)
    ]
    ad2 = terms[0]
    for t in terms[1:]:
        ad2 = ad2 + t
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col("qid"))
        .select("qid", "cid", cos.alias("cos"), ad2.alias("ad2"))
    )
    we = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    wa = Window.partitionBy("qid").orderBy(F.col("ad2").asc(), F.col("cid").asc())
    ranked = pairs.select(
        "qid",
        "cid",
        F.row_number().over(we).alias("_re"),
        F.row_number().over(wa).alias("_ra"),
    )
    exact = ranked.filter(F.col("_re") == 1).select(
        "qid", F.col("cid").alias("cid_exact")
    )
    adc = ranked.filter(F.col("_ra") == 1).select(
        "qid", F.col("cid").alias("cid_adc")
    )
    return exact.join(adc, "qid", "left").select(
        "qid",
        "cid_exact",
        "cid_adc",
        F.when(F.col("cid_adc") == F.col("cid_exact"), 1)
        .otherwise(0)
        .cast("long")
        .alias("agree"),
    )


def ivf_adc_topk_over_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    nprobe: int = 4,
    exclude_self: bool = True,
    rerank_k: int | None = None,
    resolved: tuple[list[list[float]], dict | None] | None = None,
) -> DataFrame:
    """Top-k by ADC over a persisted IVF-PQ index
    (:func:`write_ivf_index` with ``pq_samples``) — the two-lever
    composition that makes billion-scale ANN tractable: IVF partition
    pruning bounds WHICH rows a probe touches (``nprobe/n_centroids``
    of the corpus, unprobed list directories never even listed), and
    PQ bounds what each touched row COSTS (m one-byte code lookups +
    m-1 adds against the query's precomputed subspace table, instead
    of a dim-length float dot product — the probe's scan can project
    (cid, list_id, code) and skip the vector column entirely, which
    parquet column pruning turns into ~32x less I/O on the candidate
    read). Centroids, codebooks, and lists come from ONE resolved
    manifest, so a concurrent append can never mix index versions.
    Ranking is (approx_d2 asc, cid asc); at nprobe = n_centroids the
    result equals :func:`pq_adc_topk` over the whole corpus exactly
    (the registry's oracle pin).

    ``rerank_k`` turns on the standard IVFADC refinement: the ADC
    ranking becomes a SHORTLIST of size ``k``, whose raw vectors are
    read back (only from the already-probed lists, joined on the
    shortlisted ids — a second column family of the same pruned scan,
    never a corpus-wide lookup) and re-scored with the exact quantized
    cosine; the returned frame is the exact top-``rerank_k``
    (qid, cid, cos, rn) — :func:`ivf_topk_over_index`'s shape, so the
    two tiers interchange downstream. Everything resolves from the ONE
    manifest snapshot: shortlist, codebooks, and the re-rank's vector
    read can never mix index versions. Cost shape at 100 TB: the ADC
    scan touches m-byte codes for every probed candidate; only the
    k-per-query survivors (broadcast-sized) pay a float read —
    compressed-domain scan + exact head, each tier billed at its own
    width.

    ``resolved`` reuses an already-resolved ``(centroids, manifest)``
    pair (same contract as :func:`ivf_topk_over_index`): streaming
    callers resolve ONE manifest per micro-batch and thread it through
    every stage, so probe, fold, and watermark see one snapshot."""
    from traceframe_spark.streaming import manifest_store as MS

    if rerank_k is not None and rerank_k > k:
        # the ADC shortlist has size k; asking for a deeper re-ranked
        # head than the shortlist can hold would silently cap at k
        raise ValueError(
            f"rerank_k={rerank_k} > k={k}: the re-rank refines the "
            f"size-k ADC shortlist, so it can return at most k rows "
            "per query — raise k (the shortlist width) instead"
        )
    centroids, man = (
        resolved if resolved is not None else _ivf_resolve(spark, path)
    )
    if man is None or man.get("meta", {}).get("pq_samples") is None:
        raise ValueError(
            f"IVF index at {path!r} carries no PQ codebooks — build it "
            "with write_ivf_index(..., protocol='manifest', pq_samples=...)"
        )
    samples = man["meta"]["pq_samples"]
    m = int(man["meta"].get("pq_m", 8))
    residual = bool(man["meta"].get("pq_residual"))
    rotation = man["meta"].get("opq_rotation")
    dim = len(samples[0])
    d = dim // m
    qvec = _dim_checked(F.col(vec_col), dim)
    if residual:
        # residual coding: the lookup table is per (query, probed
        # list) — subspace distances from (q - c(list)) to the
        # residual codewords. The explode already keys rows by probed
        # list, so the per-list tables cost nprobe x m x n_codes tiny
        # doubles per query; the residual lands as a NAMED column so
        # the m x n_codes x (dim/m) table reads reference one
        # attribute instead of copying the centroid-matrix tree. An
        # OPQ index rotates the residual with the stored matrix before
        # the table builds — the same space the codes live in.
        exploded = queries.select(
            F.col(id_col).alias("qid"),
            qvec.alias("_qv"),
            F.explode(
                ivf_probe_lists(vec_col, centroids, nprobe)
            ).alias("list_id"),
        ).withColumn(
            "_rq", ivf_residual(F.col("_qv"), centroids, F.col("list_id"))
        )
        if rotation is not None:
            exploded = exploded.withColumn("_rq", F.expr(_rot_sql("_rq", rotation)))
        q = exploded.select(
            "qid", _pq_lut_expr("_rq", samples, m, d).alias("lut"), "list_id"
        )
    else:
        exploded = queries.select(
            F.col(id_col).alias("qid"),
            qvec.alias("_qv"),
            F.explode(
                ivf_probe_lists(vec_col, centroids, nprobe)
            ).alias("list_id"),
        )
        if rotation is not None:
            exploded = exploded.withColumn("_qv", F.expr(_rot_sql("_qv", rotation)))
        q = exploded.select(
            "qid", _pq_lut_expr("_qv", samples, m, d).alias("lut"), "list_id"
        )
    # the probed-list set depends only on queries x centroids — collect
    # it from a MINIMAL plan rather than q.select("list_id"): column
    # pruning drops the LUT/rotation columns at optimization time
    # anyway, but ANALYSIS still walks their m x n_codes x d (+ dim²
    # for OPQ) expression trees, a measurable driver cost per probe
    probed = sorted(
        {
            r["list_id"]
            for r in queries.select(
                F.explode(
                    ivf_probe_lists(vec_col, centroids, nprobe)
                ).alias("list_id")
            )
            .distinct()
            .collect()
        }
    )
    live = {key.split("=", 1)[1] for key in man["layers"] if key.startswith("list_id=")}
    vals = [str(v) for v in probed if str(v) in live]
    if not live or not vals:
        empty = q.select("qid").limit(0)
        if rerank_k is not None:
            return empty.select(
                "qid",
                F.col("qid").alias("cid"),
                F.lit(None).cast("long").alias("cos"),
                F.lit(None).cast("long").alias("rn"),
            )
        return empty.select(
            "qid",
            F.col("qid").alias("cid"),
            F.lit(None).cast("double").alias("ad2"),
            F.lit(None).cast("long").alias("rn"),
        )
    pruned = MS.read_parts_layers(spark, path, vals=vals, man=man).select(
        "cid", "list_id", "code"
    )
    pairs = q.join(pruned, "list_id")
    if exclude_self:
        pairs = pairs.filter(F.col("qid") != F.col("cid"))
    terms = [
        F.element_at(
            F.element_at(F.col("lut"), s + 1),
            F.element_at(F.col("code"), s + 1) + 1,
        )
        for s in range(m)
    ]
    ad2 = terms[0]
    for t in terms[1:]:
        ad2 = ad2 + t
    scored = pairs.select("qid", "cid", ad2.alias("ad2"))
    w = Window.partitionBy("qid").orderBy(F.col("ad2").asc(), F.col("cid").asc())
    top = (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )
    if rerank_k is None:
        return top
    # refinement: shortlist ids pick up their raw vectors from the
    # SAME probed snapshot read (second column family of the pruned
    # scan), queries broadcast with vector+norm, exact quantized
    # cosine re-ranks — _rerank_topk is the shared tail every
    # approximate tier funnels through
    qside = queries.select(
        F.col(id_col).alias("qid"),
        qvec.alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_nrm"),
    )
    cvecs = MS.read_parts_layers(spark, path, vals=vals, man=man).select(
        "cid", "c_vec", "c_nrm"
    )
    cands = (
        top.select("qid", "cid")
        .join(F.broadcast(qside), "qid")
        .join(cvecs, "cid")
    )
    return _rerank_topk(cands, rerank_k)
