"""Similarity search over the `embeddings` table (array<float>, 64-dim):
brute-force cosine top-k, random-hyperplane LSH bucketing, and an
IVF-style coarse-quantizer search.

Scale design:
- brute force is the correctness baseline: one broadcast of the query
  vector, one narrow pass, TakeOrderedAndProject top-k. Linear scan —
  fine for one query, wrong for many; that's what the LSH/IVF variants
  exist for;
- LSH: 8 signed random hyperplanes -> 8-bit bucket; at scale candidate
  retrieval becomes an equi-join on bucket (multi-probe for recall);
- IVF: partition the corpus by coarse centroid (here: learned from the
  `label` column as the cluster assignment), route the query to its
  nearest centroid, scan only that inverted list (~1/k of the corpus).

All dot products stay JVM-side (higher-order array functions compiled by
Catalyst — zip_with + aggregate), no Python UDFs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .. import tables
from ..functions.exprs import rnd
from ..operators import textops as T
from ..registry import query

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0.0e0, (acc, v) -> acc + v)"
)


def _emb(spark, sf_dir):
    return tables.load(spark, sf_dir, "embeddings")


# --- flat-column pair dot products (round-9 optimization) -----------------
#
# Higher-order array functions are INTERPRETED (no whole-stage codegen):
# a pair-cardinality `aggregate(zip_with(...))` cosine pays ~7 us/pair
# at 64 dims — 2-4 s of the sf0.1 wall for the 251k-pair SemDeDup join,
# and the cost is per-PAIR, so it scales with candidate volume, not
# corpus size. Unrolling the fold over the ARRAY column is no better
# (each of the 64 `e[i]` terms re-extracts the array from the row —
# measured 2.7x SLOWER), but unrolling over 64 FLAT double columns is
# pure primitive UnsafeRow arithmetic inside WholeStageCodegen:
# measured 2.6x faster end-to-end on the SemDeDup pair stage with cos_u
# bit-identical on all 251,511 pairs. The fold order is preserved
# exactly: `0.0e0 + p0 + p1 + ...` parses left-associative, the same
# IEEE sequence as aggregate's ((0.0+p0)+p1)+...; the float->double
# casts move from per-pair to once per vector (same values, same
# order). Callers gate on `dim` being known from the parquet footer and
# keep the HOF path as fallback, so an unexpected layout degrades to
# the old plan instead of mis-evaluating.


def emb_dim(sf_dir: str) -> int | None:
    """Embedding dimensionality, validated from parquet footers only
    (no Spark job, no data read beyond metadata): for every fragment
    and row group, the list-leaf column's num_values must equal
    dim * num_rows with a recorded null count of zero (a footer without
    statistics proves nothing and counts as a mismatch), and the implied
    dim must agree across all groups and fragments. Any mismatch returns
    None,
    which makes every flat-column consumer fall back to the HOF
    formulation instead of silently truncating/NULLing the dot product
    (round-9 ADVICE; parquet keeps no per-row list-length statistic,
    so a ragged group whose lengths AVERAGE to dim exactly is the one
    layout this footer check cannot reject). Handles both a single
    file and a directory of part files (the 100 TB layout — round-9
    verdict: the single-file read degraded the flat path to
    interpreted HOFs exactly where it matters most)."""
    import os

    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, "embeddings.parquet")
        files = (
            sorted(
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
            if os.path.isdir(path)
            else [path]
        )
        if not files:
            return None
        dim = None
        for fp in files:
            md = pq.ParquetFile(fp).metadata
            leaf = next(
                i
                for i in range(md.num_columns)
                if md.schema.column(i).path.startswith("embedding.")
            )
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                col = rg.column(leaf)
                if rg.num_rows == 0:
                    continue
                st = col.statistics
                if st is None or st.null_count != 0:
                    return None  # null elements or no null count: unprovable
                if col.num_values % rg.num_rows:
                    return None  # ragged within the group
                d = col.num_values // rg.num_rows
                if dim is None:
                    dim = d
                elif d != dim:
                    return None  # ragged across groups/fragments
        return int(dim) if dim else None
    except Exception:
        return None


def flat_cols(dim: int, src: str = "embedding", pfx: str = "e"):
    """Projection list materializing `src` as `dim` pre-cast DOUBLE
    columns e0..e{dim-1} (compute the cast once per vector, not once
    per pair)."""
    return [
        F.expr(f"CAST({src}[{i}] AS DOUBLE)").alias(f"{pfx}{i}")
        for i in range(dim)
    ]


def flat_dot(a: str, b: str, dim: int, pfx: str = "e") -> str:
    """Codegen'd pair dot product over two flat-column vector frames:
    bit-identical to _DOT's strict left fold (leading 0.0e0 preserves
    the -0.0 accumulation edge)."""
    terms = " + ".join(f"{a}.{pfx}{i} * {b}.{pfx}{i}" for i in range(dim))
    return f"(0.0e0 + {terms})"


@query(
    "embed_knn_bruteforce",
    oracle=(
        "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), "
        "z AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, "
        "CAST(unnest(qe) AS DOUBLE) AS y FROM embeddings, q WHERE vec_id <> 0), "
        "d AS (SELECT vec_id, SUM(x * y) AS dot, SUM(x * x) AS n2, "
        "SUM(y * y) AS q2 FROM z GROUP BY vec_id) "
        "SELECT vec_id, "
        + rnd("dot / (SQRT(n2) * SQRT(q2))", 6)
        + " AS cosine FROM d ORDER BY cosine DESC, vec_id LIMIT 10"
    ),
)
def embed_knn_bruteforce(spark, sf_dir):
    """Cosine top-10 neighbors of vec_id 0. Query vector broadcast; the
    scan is one narrow stage; top-k is a per-partition heap."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.expr(_DOT.format(a="embedding", b="qe")).alias("dot"),
            F.expr(_DOT.format(a="embedding", b="embedding")).alias("n2"),
            F.expr(_DOT.format(a="qe", b="qe")).alias("q2"),
        )
        .select(
            "vec_id",
            F.expr(rnd("dot / (SQRT(n2) * SQRT(q2))", 6)).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


# --- hard-negative mining for contrastive training ------------------------

_HN_Q = 10  # query vectors: vec_id 0..9
_HN_K = 5  # hard negatives per query


@query(
    "embed_hard_negatives",
    oracle=(
        f"WITH q AS (SELECT vec_id AS qid, label AS qlab, embedding AS qe "
        f"FROM embeddings WHERE vec_id < {_HN_Q}), "
        "z AS (SELECT q.qid, q.qlab, e.vec_id, e.label, "
        "CAST(unnest(e.embedding) AS DOUBLE) AS x, "
        "CAST(unnest(q.qe) AS DOUBLE) AS y "
        "FROM embeddings e CROSS JOIN q WHERE e.label <> q.qlab), "
        "d AS (SELECT qid, qlab, vec_id, label, SUM(x * y) AS dot, "
        "SUM(x * x) AS n2, SUM(y * y) AS q2 "
        "FROM z GROUP BY qid, qlab, vec_id, label), "
        "c AS (SELECT qid, qlab, vec_id, label, "
        + rnd("dot / (SQRT(n2) * SQRT(q2))", 6)
        + " AS cosine FROM d), "
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid "
        "ORDER BY cosine DESC, vec_id) AS rank FROM c) "
        "SELECT qid AS q_vec, rank, vec_id AS neg_vec, "
        "qlab AS q_label, label AS neg_label, cosine "
        f"FROM r WHERE rank <= {_HN_K}"
    ),
)
def embed_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive embedding training: for each
    of the first 10 vectors (the 'anchors'), the top-5 most-similar
    vectors whose LABEL DIFFERS — the near-miss impostors that make
    InfoNCE/triplet batches informative (random negatives are trivially
    separable; training signal comes from these). Label plays the role
    of the supervision key (query-doc pair id, language, source).

    Scale shape: anchors broadcast as one tiny frame (like every query
    side in this family), the corpus pass is narrow with per-side norms
    computed pre-join, and per-anchor top-k is a window over the
    anchor key — at a billion vectors you first route through the IVF
    lists (embed_ivf_search) and mine within probed cells, same
    downstream shape. Cosines snap to 6 decimals before ranking so the
    order is engine-portable."""
    emb = _emb(spark, sf_dir).withColumn(
        "nrm", F.expr("SQRT(" + _DOT.format(a="embedding", b="embedding") + ")")
    )
    q = (
        emb.filter(F.col("vec_id") < _HN_Q)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qnrm"),
        )
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "qid",
            "q_label",
            "vec_id",
            "label",
            F.expr(
                rnd(
                    _DOT.format(a="embedding", b="qe") + " / (nrm * qnrm)",
                    6,
                )
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HN_K)
        .select(
            F.col("qid").alias("q_vec"),
            "rank",
            F.col("vec_id").alias("neg_vec"),
            "q_label",
            F.col("label").alias("neg_label"),
            "cosine",
        )
    )


# --- LSH bucketing --------------------------------------------------------

_NPLANES = 8
# deterministic pseudo-random hyperplane component, exact rational:
# w(j, d) = ((j*73 + d*37) * 2654435761 mod 1000003) / 1000003 - 0.5
_W_SQL = (
    "(CAST(((j * 73 + d * 37) * 2654435761) % 1000003 AS DOUBLE) "
    "/ 1000003.0e0 - 0.5e0)"
)


def sign_bucket_sql(nplanes: int) -> str:
    """Narrow SQL expression: the sign-random-projection bucket of the
    `embedding` array column, computed entirely inside the row — one
    HOF fold per hyperplane, no posexplode, no plane crossJoin, no
    aggregate. Each fold is a strict left-to-right sum in index order,
    bit-identical to the oracle's SUM over unnest order (a float
    aggregate over shuffled rows would not be). Per-plane j is inlined
    as a literal, so each dot expression appears exactly once (see the
    let-binding hazard note in textops.doc_shingle_ids)."""
    terms = []
    for j in range(nplanes):
        w = (
            f"(CAST((({j} * 73 + d * 37) * 2654435761) % 1000003 AS DOUBLE)"
            " / 1000003.0e0 - 0.5e0)"
        )
        dot = (
            "aggregate(transform(embedding, (x, d) -> "
            f"CAST(x AS DOUBLE) * {w}), 0.0e0, (acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN {dot} > 0.0e0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


@query(
    "embed_lsh_buckets",
    oracle=(
        "WITH z AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, "
        "generate_subscripts(embedding, 1) - 1 AS d FROM embeddings), "
        f"proj AS (SELECT vec_id, j, SUM(x * {_W_SQL}) AS dot "
        f"FROM z CROSS JOIN (SELECT unnest(range(0, {_NPLANES})) AS j) "
        "GROUP BY vec_id, j), "
        "b AS (SELECT vec_id, SUM(CASE WHEN dot > 0.0e0 THEN (1 << j) "
        "ELSE 0 END) AS bucket FROM proj GROUP BY vec_id) "
        "SELECT bucket, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec "
        "FROM b GROUP BY bucket"
    ),
)
def embed_lsh_buckets(spark, sf_dir):
    """Sign-random-projection LSH: 8 hyperplanes -> 8-bit bucket per
    vector, computed NARROWLY inside the row (sign_bucket_sql: one HOF
    fold per plane — the posexplode + plane-crossJoin + two-aggregate
    textbook build shuffles dim x planes x rows; this shuffles nothing
    until the final histogram). Candidate retrieval at scale is an
    equi-join on bucket. Hyperplanes are exact-rational arithmetic (no
    RNG at runtime, reproducible across engines and runs)."""
    emb = _emb(spark, sf_dir)
    b = emb.select(
        "vec_id", F.expr(sign_bucket_sql(_NPLANES)).alias("bucket")
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec")
    )


# --- cross-modality join: documents with their embedding sidecar ----------


@query(
    "doc_embedding_join",
    oracle=(
        "WITH n AS (SELECT vec_id, label, "
        "SQRT(SUM(CAST(x AS DOUBLE) * x)) AS norm FROM "
        "(SELECT vec_id, label, unnest(embedding) AS x FROM embeddings) "
        "GROUP BY vec_id, label) "
        "SELECT d.doc_id, d.n_chars, d.lang, n.label, "
        + rnd("n.norm", 4)
        + " AS emb_norm FROM documents d JOIN n ON n.vec_id = d.doc_id"
    ),
)
def doc_embedding_join(spark, sf_dir):
    """Cross-modality equi-join: the documents table with its embedding
    sidecar (id-aligned, the standard layout for a corpus + vectors at
    scale — vectors live in their own table/files so text-only scans
    never read them). Norm computed JVM-side from the array column; the
    join is a plain hash join on the id."""
    docs = tables.load(spark, sf_dir, "documents")
    emb = _emb(spark, sf_dir).select(
        F.col("vec_id"),
        "label",
        F.expr(
            "SQRT(" + _DOT.format(a="embedding", b="embedding") + ")"
        ).alias("norm"),
    )
    return docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id",
        "n_chars",
        "lang",
        "label",
        F.expr(rnd("norm", 4)).alias("emb_norm"),
    )


# --- per-label PCA (grouped-map applyInPandas) ----------------------------


@query("embed_label_pca")  # no SQL oracle: eigendecomposition; pinned by
# tests/test_multimodal.py::test_label_pca_matches_numpy
def embed_label_pca(spark, sf_dir):
    """Per-label top principal component + explained-variance ratio via
    applyInPandas (grouped map): each label's vectors arrive as ONE
    Arrow batch, numpy does the eigendecomposition — the operator shape
    for per-group numerics Spark builtins can't express. Determinism:
    rows are sorted by vec_id inside the kernel (float reduction order
    fixed) and the eigenvector sign is pinned to first-nonzero > 0.

    At 100 TB: groups must fit one executor's memory (true for IVF
    cells by construction); otherwise switch to the streaming
    covariance form (groupBy sum of outer products — one shuffle of
    d x d partials, then driver-side eigh on k tiny matrices)."""
    import numpy as np
    import pandas as pd

    def pca_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        Xc = X - X.mean(axis=0)
        C = (Xc.T @ Xc) / max(len(X) - 1, 1)
        w, v = np.linalg.eigh(C)
        top = v[:, -1]
        nz = np.nonzero(top)[0]
        if len(nz) and top[nz[0]] < 0:
            top = -top
        evr = float(w[-1] / w.sum()) if w.sum() > 0 else 0.0
        return pd.DataFrame(
            [
                {
                    "label": int(pdf["label"].iloc[0]),
                    "n_vectors": len(X),
                    "evr": round(evr, 6),
                    "pc0": [round(float(t), 6) for t in top],
                }
            ]
        )

    emb = _emb(spark, sf_dir)
    return emb.groupBy("label").applyInPandas(
        pca_group,
        schema="label BIGINT, n_vectors BIGINT, evr DOUBLE, pc0 ARRAY<DOUBLE>",
    )


# --- IVF coarse-quantizer search -----------------------------------------


@query(
    "embed_ivf_search",
    oracle=(
        "WITH z AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x, "
        "generate_subscripts(embedding, 1) - 1 AS d FROM embeddings), "
        "cent AS (SELECT label, d, AVG(x) AS c FROM z GROUP BY label, d), "
        "qv AS (SELECT d, x AS qx FROM z WHERE vec_id = 0), "
        "score AS (SELECT label, SUM(qx * c) / (SQRT(SUM(c * c)) "
        "* SQRT(SUM(qx * qx))) AS cos FROM cent JOIN qv USING (d) GROUP BY label), "
        "best AS (SELECT label FROM score ORDER BY cos DESC, label LIMIT 1), "
        "cand AS (SELECT e.vec_id, e.embedding FROM embeddings e, best "
        "WHERE e.label = best.label AND e.vec_id <> 0), "
        "zz AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, "
        "generate_subscripts(embedding, 1) - 1 AS d FROM cand), "
        "dd AS (SELECT vec_id, SUM(x * qx) AS dot, SUM(x * x) AS n2 "
        "FROM zz JOIN qv USING (d) GROUP BY vec_id), "
        "qn AS (SELECT SUM(qx * qx) AS q2 FROM qv) "
        "SELECT vec_id, "
        + rnd("dot / (SQRT(n2) * SQRT(q2))", 6)
        + " AS cosine FROM dd, qn ORDER BY cosine DESC, vec_id LIMIT 5"
    ),
)
def embed_ivf_search(spark, sf_dir):
    """IVF-style ANN: centroids per `label` partition (the coarse
    quantizer), query routed to its nearest centroid, exhaustive search
    only inside that inverted list. The centroid table is tiny ->
    broadcast; the probed list is ~1/k of the corpus."""
    emb = _emb(spark, sf_dir)
    z = emb.select(
        "vec_id", "label", F.posexplode(F.col("embedding")).alias("d", "xf")
    ).select("vec_id", "label", "d", F.col("xf").cast("double").alias("x"))
    cent = z.groupBy("label", "d").agg(F.avg("x").alias("c"))
    qv = z.filter(F.col("vec_id") == 0).select("d", F.col("x").alias("qx"))
    score = (
        cent.join(F.broadcast(qv), "d")
        .groupBy("label")
        .agg(
            (
                F.sum(F.col("qx") * F.col("c"))
                / (
                    F.sqrt(F.sum(F.col("c") * F.col("c")))
                    * F.sqrt(F.sum(F.col("qx") * F.col("qx")))
                )
            ).alias("cos")
        )
    )
    best = score.orderBy(F.desc("cos"), "label").limit(1).select("label")
    cand = emb.join(F.broadcast(best), "label").filter(F.col("vec_id") != 0)
    qe = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return (
        cand.crossJoin(F.broadcast(qe))
        .select(
            "vec_id",
            F.expr(_DOT.format(a="embedding", b="qe")).alias("dot"),
            F.expr(_DOT.format(a="embedding", b="embedding")).alias("n2"),
            F.expr(_DOT.format(a="qe", b="qe")).alias("q2"),
        )
        .select(
            "vec_id",
            F.expr(rnd("dot / (SQRT(n2) * SQRT(q2))", 6)).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(5)
    )


# --- ANN quality evaluation: IVF recall@5 vs exact ------------------------

_NQ = 8  # query batch: vec_id < 8
_K = 5

_COS = rnd("dot / (SQRT(n2) * SQRT(q2))", 6)


@query(
    "embed_ivf_recall",
    oracle=(
        "WITH q AS (SELECT vec_id AS q_id, embedding AS qe "
        f"FROM embeddings WHERE vec_id < {_NQ}), "
        "qz AS (SELECT q_id, CAST(unnest(qe) AS DOUBLE) AS qx, "
        "generate_subscripts(qe, 1) - 1 AS d FROM q), "
        "z AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x, "
        "generate_subscripts(embedding, 1) - 1 AS d FROM embeddings), "
        "pair AS (SELECT qz.q_id, z.vec_id, SUM(z.x * qz.qx) AS dot, "
        "SUM(z.x * z.x) AS n2, SUM(qz.qx * qz.qx) AS q2 "
        "FROM z JOIN qz USING (d) WHERE z.vec_id <> qz.q_id GROUP BY 1, 2), "
        "er AS (SELECT q_id, vec_id, ROW_NUMBER() OVER ("
        f"PARTITION BY q_id ORDER BY {_COS} DESC, vec_id) AS rk FROM pair), "
        f"ex AS (SELECT q_id, vec_id FROM er WHERE rk <= {_K}), "
        "cent AS (SELECT label, d, AVG(x) AS c FROM z GROUP BY 1, 2), "
        "ls AS (SELECT qz.q_id, cent.label, "
        "SUM(qz.qx * cent.c) / (SQRT(SUM(cent.c * cent.c)) "
        "* SQRT(SUM(qz.qx * qz.qx))) AS cos "
        "FROM cent JOIN qz USING (d) GROUP BY 1, 2), "
        "best AS (SELECT q_id, label FROM (SELECT q_id, label, "
        "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY "
        + rnd("cos", 6)
        + " DESC, label) AS rk FROM ls) WHERE rk = 1), "
        "cand AS (SELECT b.q_id, e.vec_id, e.embedding FROM embeddings e "
        "JOIN best b ON e.label = b.label AND e.vec_id <> b.q_id), "
        "cz AS (SELECT q_id, vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, "
        "generate_subscripts(embedding, 1) - 1 AS d FROM cand), "
        "ip AS (SELECT cz.q_id, cz.vec_id, SUM(cz.x * qz.qx) AS dot, "
        "SUM(cz.x * cz.x) AS n2, SUM(qz.qx * qz.qx) AS q2 FROM cz "
        "JOIN qz ON cz.d = qz.d AND cz.q_id = qz.q_id GROUP BY 1, 2), "
        "ir AS (SELECT q_id, vec_id, ROW_NUMBER() OVER ("
        f"PARTITION BY q_id ORDER BY {_COS} DESC, vec_id) AS rk FROM ip), "
        f"iv AS (SELECT q_id, vec_id FROM ir WHERE rk <= {_K}) "
        "SELECT ex.q_id, COUNT(iv.vec_id) AS n_hit, "
        + rnd(f"CAST(COUNT(iv.vec_id) AS DOUBLE) / {_K}.0e0", 4)
        + " AS recall_at_5 FROM ex LEFT JOIN iv "
        "ON ex.q_id = iv.q_id AND ex.vec_id = iv.vec_id GROUP BY 1"
    ),
)
def embed_ivf_recall(spark, sf_dir):
    """ANN quality evaluation: recall@5 of the IVF route (probe the one
    nearest inverted list) against the exact cosine top-5, per query in
    a broadcast batch of 8 query vectors — the self-evaluation every
    approximate index needs before it replaces the exact path.

    Scale shape: the exact side is ONE narrow pass over the corpus per
    batch (query batch broadcast, per-partition top-k heaps feed a
    q_id-partitioned window); the IVF side scores (centroid x query)
    on tiny frames and scans only the routed inverted lists. Recall
    joins two K-row-per-query frames — negligible. Raising the query
    batch from 8 to thousands changes no plan shape, only the broadcast
    size."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    wq = Window.partitionBy("q_id")

    def _top5(pairs):
        scored = pairs.select(
            "q_id",
            "vec_id",
            F.expr(_DOT.format(a="embedding", b="qe")).alias("dot"),
            F.expr(_DOT.format(a="embedding", b="embedding")).alias("n2"),
            F.expr(_DOT.format(a="qe", b="qe")).alias("q2"),
        ).select("q_id", "vec_id", F.expr(_COS).alias("cosine"))
        return (
            scored.withColumn(
                "rk",
                F.row_number().over(
                    wq.orderBy(F.desc("cosine"), "vec_id")
                ),
            )
            .filter(F.col("rk") <= _K)
            .select("q_id", "vec_id")
        )

    exact5 = _top5(
        emb.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("q_id"))
    )

    z = emb.select(
        "vec_id", "label", F.posexplode(F.col("embedding")).alias("d", "xf")
    ).select("vec_id", "label", "d", F.col("xf").cast("double").alias("x"))
    cent = z.groupBy("label", "d").agg(F.avg("x").alias("c"))
    qz = q.select(
        "q_id", F.posexplode(F.col("qe")).alias("d", "qxf")
    ).select("q_id", "d", F.col("qxf").cast("double").alias("qx"))
    ls = (
        cent.join(F.broadcast(qz), "d")
        .groupBy("q_id", "label")
        .agg(
            (
                F.sum(F.col("qx") * F.col("c"))
                / (
                    F.sqrt(F.sum(F.col("c") * F.col("c")))
                    * F.sqrt(F.sum(F.col("qx") * F.col("qx")))
                )
            ).alias("cos")
        )
    )
    best = (
        ls.withColumn(
            "rk",
            F.row_number().over(
                wq.orderBy(F.desc(F.expr(rnd("cos", 6))), "label")
            ),
        )
        .filter(F.col("rk") == 1)
        .select("q_id", "label")
    )
    cand = (
        emb.join(F.broadcast(best), "label")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(F.broadcast(q), "q_id")
    )
    ivf5 = _top5(cand)

    return (
        exact5.join(
            ivf5.withColumn("hit", F.lit(1)), ["q_id", "vec_id"], "left"
        )
        .groupBy("q_id")
        .agg(F.count("hit").alias("n_hit"))
        .select(
            "q_id",
            "n_hit",
            F.expr(rnd(f"CAST(n_hit AS DOUBLE) / {_K}.0e0", 4)).alias(
                "recall_at_5"
            ),
        )
    )


# --- k-means assignment step ---------------------------------------------

_KM_K = 8

#: squared-L2 in integer micro-units: exact to compare/sum cross-engine
#: (the fold is strict left-to-right in index order; the oracle's SUM
#: over unnest runs the same order, and the micro-snap absorbs any
#: last-ulp summation difference before the argmin decides anything)
_L2U = (
    "CAST(ROUND(aggregate(zip_with({a}, {b}, "
    "(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
    "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
    "0.0e0, (acc, v) -> acc + v) * 1.0e6) AS BIGINT)"
)

_KMEANS_ORACLE = f"""
WITH s AS (
  SELECT vec_id AS seed_id, embedding AS se FROM embeddings
  WHERE vec_id < {_KM_K}
),
z AS (
  SELECT e.vec_id, e.label, s.seed_id,
         CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(s.se) AS DOUBLE) AS y
  FROM embeddings e CROSS JOIN s
),
d AS (
  SELECT vec_id, label, seed_id,
         CAST(ROUND(SUM((x - y) * (x - y)) * 1.0e6) AS BIGINT) AS d_u
  FROM z GROUP BY vec_id, label, seed_id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY d_u, seed_id) AS rk
  FROM d
)
SELECT seed_id AS cluster, COUNT(*) AS n_members,
       COUNT(DISTINCT label) AS n_labels,
       SUM(d_u) AS sum_d_u,
       CAST(SUM(d_u) AS DOUBLE) / (1.0e6 * COUNT(*)) AS avg_sq_dist
FROM r WHERE rk = 1
GROUP BY seed_id
"""


@query("embed_kmeans_assign", oracle=_KMEANS_ORACLE)
def embed_kmeans_assign(spark, sf_dir):
    """One k-means assignment step against K=8 fixed seed vectors
    (vec_id 0..7): every embedding joins its nearest seed by squared
    L2; output is per-cluster size, label diversity, and mean squared
    distance (inertia / n). The seed set collapses to ONE broadcast
    array row and the argmin is a narrow array_min(transform(...)) —
    zero shuffles on the corpus side, which is exactly the Lloyd's-
    iteration inner loop you want at 100 TB (the update step would be
    an exact-integer centroid aggregate on the assignment output)."""
    best = _kmeans_best(_emb(spark, sf_dir))
    return best.groupBy(F.col("best.seed_id").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct("label").alias("n_labels"),
        F.sum("best.d_u").alias("sum_d_u"),
        F.expr(
            "CAST(SUM(best.d_u) AS DOUBLE) / (1.0e6 * COUNT(*))"
        ).alias("avg_sq_dist"),
    )


#: assignment CTE chain shared by the update step: a = (vec_id -> cluster)
_KM_ASSIGN_CTE = f"""
s AS (
  SELECT vec_id AS seed_id, embedding AS se FROM embeddings
  WHERE vec_id < {_KM_K}
),
z AS (
  SELECT e.vec_id, s.seed_id,
         CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(s.se) AS DOUBLE) AS y
  FROM embeddings e CROSS JOIN s
),
d AS (
  SELECT vec_id, seed_id,
         CAST(ROUND(SUM((x - y) * (x - y)) * 1.0e6) AS BIGINT) AS d_u
  FROM z GROUP BY vec_id, seed_id
),
a AS (
  SELECT vec_id, seed_id AS cluster FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY d_u, seed_id) AS rk FROM d
  ) WHERE rk = 1
)"""

_KM_UPDATE_ORACLE = f"""
WITH {_KM_ASSIGN_CTE},
ex AS (
  SELECT a.cluster,
         unnest(generate_series(0, len(e.embedding) - 1)) AS dim,
         CAST(unnest(e.embedding) AS DOUBLE) AS x
  FROM embeddings e JOIN a USING (vec_id)
)
SELECT cluster, dim, COUNT(*) AS n_members,
       SUM(CAST(ROUND(x * 1.0e6) AS BIGINT)) AS s_u,
       CAST(SUM(CAST(ROUND(x * 1.0e6) AS BIGINT)) AS DOUBLE)
         / (1.0e6 * COUNT(*)) AS centroid
FROM ex GROUP BY cluster, dim
"""


def _kmeans_best(emb):
    """Per-vector nearest seed: (vec_id, label, embedding, best struct).
    Broadcast-array argmin — narrow, zero corpus-side shuffles."""
    seeds = (
        emb.filter(F.col("vec_id") < _KM_K)
        .select(
            F.struct(
                F.col("vec_id").alias("seed_id"),
                F.col("embedding").alias("se"),
            ).alias("s")
        )
        .agg(F.sort_array(F.collect_list("s")).alias("seeds"))
    )
    return emb.join(F.broadcast(seeds)).select(
        "vec_id",
        "label",
        "embedding",
        F.expr(
            "array_min(transform(seeds, s -> struct("
            + _L2U.format(a="embedding", b="s.se")
            + " AS d_u, s.seed_id AS seed_id)))"
        ).alias("best"),
    )


@query("embed_kmeans_update", oracle=_KM_UPDATE_ORACLE)
def embed_kmeans_update(spark, sf_dir):
    """The k-means UPDATE step: new centroids of the clusters produced
    by the assignment step, in long form (cluster, dim, centroid).
    Element values snap to integer micro-units before the per-(cluster,
    dim) sum, so centroids are exact rationals — order-insensitive and
    engine-identical, unlike a naive float mean. One posexplode (narrow)
    + one hash-agg whose key space is K x dims = 512; map-side partials
    mean the shuffle moves per-partition partial sums, not elements.
    Together with embed_kmeans_assign this is a full Lloyd's iteration,
    each half independently oracle-checked."""
    emb = _emb(spark, sf_dir)
    ex = _kmeans_best(emb).select(
        F.col("best.seed_id").alias("cluster"),
        F.posexplode("embedding").alias("dim", "xf"),
    )
    return (
        ex.select(
            "cluster",
            "dim",
            F.expr(
                "CAST(ROUND(CAST(xf AS DOUBLE) * 1.0e6) AS BIGINT)"
            ).alias("x_u"),
        )
        .groupBy("cluster", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("x_u").alias("s_u"),
            F.expr(
                "CAST(SUM(x_u) AS DOUBLE) / (1.0e6 * COUNT(*))"
            ).alias("centroid"),
        )
    )


# --- product quantization encode -----------------------------------------

_PQ_M = 8       # subspaces
_PQ_DSUB = 8    # dims per subspace (64-dim vectors)

#: in-row PQ code for one subspace s: argmin over the K seed
#: sub-centroids of the micro-snapped squared-L2 between 8-dim slices.
#: slice() is 1-based in Spark SQL; struct ordering gives the
#: (distance, seed) tie-break.
_PQ_CODE_SPARK = (
    "transform(sequence(0, {m} - 1), s -> "
    "array_min(transform(seeds, k -> struct("
    "CAST(ROUND(aggregate(zip_with("
    "slice(embedding, s * {d} + 1, {d}), "
    "slice(k.se, s * {d} + 1, {d}), "
    "(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
    "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
    "0.0e0, (acc, v) -> acc + v) * 1.0e6) AS BIGINT) AS d_u, "
    "k.seed_id AS seed_id))))"
).format(m=_PQ_M, d=_PQ_DSUB)

_PQ_ORACLE = f"""
WITH s AS (
  SELECT vec_id AS seed_id, embedding AS se FROM embeddings
  WHERE vec_id < {_KM_K}
),
z AS (
  SELECT e.vec_id, s.seed_id,
         unnest(generate_series(0, len(e.embedding) - 1)) AS dim,
         CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(s.se) AS DOUBLE) AS y
  FROM embeddings e CROSS JOIN s
),
d AS (
  SELECT vec_id, seed_id, dim // {_PQ_DSUB} AS sub,
         CAST(ROUND(SUM((x - y) * (x - y)) * 1.0e6) AS BIGINT) AS d_u
  FROM z GROUP BY vec_id, seed_id, dim // {_PQ_DSUB}
),
best AS (
  SELECT vec_id, sub, seed_id AS code, d_u FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id, sub ORDER BY d_u, seed_id) AS rk FROM d
  ) WHERE rk = 1
)
SELECT vec_id,
       {', '.join(f"MAX(CASE WHEN sub = {s} THEN code END) AS c{s}" for s in range(_PQ_M))},
       SUM(d_u) AS err_u
FROM best GROUP BY vec_id
"""


@query("embed_pq_encode", oracle=_PQ_ORACLE)
def embed_pq_encode(spark, sf_dir):
    """Product-quantization encoding: each 64-dim vector compressed to
    8 sub-codes (one per 8-dim subspace, codebook = the K seed
    sub-vectors) plus the total quantization error. The entire encode
    is IN-ROW — the codebook rides the same single broadcast array row
    as the k-means/IVF operators and every subspace argmin is a
    `transform` over it — so the corpus side has ZERO shuffles and the
    operator is a pure narrow map at any scale. Completes the ANN
    family: brute-force (exact), LSH (hash route), IVF (coarse route),
    PQ (compressed residual scan)."""
    emb = _emb(spark, sf_dir)
    seeds = (
        emb.filter(F.col("vec_id") < _KM_K)
        .select(
            F.struct(
                F.col("vec_id").alias("seed_id"),
                F.col("embedding").alias("se"),
            ).alias("s")
        )
        .agg(F.sort_array(F.collect_list("s")).alias("seeds"))
    )
    coded = emb.join(F.broadcast(seeds)).select(
        "vec_id", F.expr(_PQ_CODE_SPARK).alias("codes")
    )
    return coded.select(
        "vec_id",
        *[
            F.expr(f"codes[{s}].seed_id").alias(f"c{s}")
            for s in range(_PQ_M)
        ],
        F.expr(
            "aggregate(transform(codes, c -> c.d_u), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("err_u"),
    )


# --- product-quantization ADC search --------------------------------------

_PQ_ADC_ORACLE = f"""
WITH s AS (
  SELECT vec_id AS seed_id, embedding AS se FROM embeddings
  WHERE vec_id < {_KM_K}
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
zq AS (
  SELECT s.seed_id,
         unnest(generate_series(0, len(s.se) - 1)) AS dim,
         CAST(unnest(s.se) AS DOUBLE) AS y,
         CAST(unnest(q.qe) AS DOUBLE) AS qx
  FROM s CROSS JOIN q
),
lut AS (
  SELECT seed_id, dim // {_PQ_DSUB} AS sub,
         CAST(ROUND(SUM((qx - y) * (qx - y)) * 1.0e6) AS BIGINT) AS l_u
  FROM zq GROUP BY seed_id, dim // {_PQ_DSUB}
),
z AS (
  SELECT e.vec_id, s.seed_id,
         unnest(generate_series(0, len(e.embedding) - 1)) AS dim,
         CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(s.se) AS DOUBLE) AS y
  FROM embeddings e CROSS JOIN s
),
d AS (
  SELECT vec_id, seed_id, dim // {_PQ_DSUB} AS sub,
         CAST(ROUND(SUM((x - y) * (x - y)) * 1.0e6) AS BIGINT) AS d_u
  FROM z GROUP BY vec_id, seed_id, dim // {_PQ_DSUB}
),
best AS (
  SELECT vec_id, sub, seed_id AS code FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id, sub ORDER BY d_u, seed_id) AS rk FROM d
  ) WHERE rk = 1
),
adist AS (
  SELECT b.vec_id, CAST(SUM(l.l_u) AS BIGINT) AS adist_u
  FROM best b JOIN lut l ON l.sub = b.sub AND l.seed_id = b.code
  WHERE b.vec_id <> 0 GROUP BY b.vec_id
),
ze AS (
  SELECT e.vec_id,
         CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(q.qe) AS DOUBLE) AS qx
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
),
ex AS (
  SELECT vec_id,
         CAST(ROUND(SUM((x - qx) * (x - qx)) * 1.0e6) AS BIGINT)
           AS exact_d_u
  FROM ze GROUP BY vec_id
)
SELECT a.vec_id, a.adist_u, ex.exact_d_u
FROM adist a JOIN ex USING (vec_id)
ORDER BY adist_u, vec_id LIMIT 10
"""


@query("embed_pq_adc_search", oracle=_PQ_ADC_ORACLE)
def embed_pq_adc_search(spark, sf_dir):
    """Asymmetric-distance PQ search (the query side of the PQ story —
    embed_pq_encode is the index side): the query's 64-entry lookup
    table ||q_s - c_{s,k}||^2 is computed ONCE in a one-row broadcast
    frame (m x K snapped integers); every database vector then costs
    its in-row code (the same argmin as encode) plus m integer LUT
    lookups — no float math per vector pair, which is exactly why ADC
    scans billions of codes cheaply at 100 TB (codes are 8 bytes/vector
    vs 256 for floats; the LUT rides the task closure). Output: top-10
    by approximate distance with the exact distance alongside, so the
    compression error is visible row by row. All distances are
    micro-snapped integers => engine-exact ordering."""
    emb = _emb(spark, sf_dir)
    seeds = (
        emb.filter(F.col("vec_id") < _KM_K)
        .select(
            F.struct(
                F.col("vec_id").alias("seed_id"),
                F.col("embedding").alias("se"),
            ).alias("s")
        )
        .agg(F.sort_array(F.collect_list("s")).alias("seeds"))
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    sq8 = (
        "CAST(ROUND(aggregate(zip_with("
        "slice(qe, s * {d} + 1, {d}), slice(k.se, s * {d} + 1, {d}), "
        "(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "0.0e0, (acc, v) -> acc + v) * 1.0e6) AS BIGINT)"
    ).format(d=_PQ_DSUB)
    # the one-row LUT frame: flatten is s-major, seeds sorted by
    # seed_id, so entry index = s * K + code (0-based)
    lutrow = seeds.join(q).select(
        "qe",
        F.expr(
            f"flatten(transform(sequence(0, {_PQ_M} - 1), s -> "
            f"transform(seeds, k -> {sq8})))"
        ).alias("lut"),
        "seeds",
    )
    adist = (
        "aggregate(transform(" + _PQ_CODE_SPARK + ", (c, s) -> "
        f"element_at(lut, CAST(s * {_KM_K} + c.seed_id + 1 AS INT))), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(lutrow))
        .select(
            "vec_id",
            F.expr(adist).alias("adist_u"),
            F.expr(
                _L2U.format(a="embedding", b="qe")
            ).alias("exact_d_u"),
        )
        .orderBy("adist_u", "vec_id")
        .limit(10)
    )


# --- IVF-PQ composed search (coarse route + compressed scan) --------------

_IVFPQ_NPROBE = 2

_IVFPQ_ORACLE = f"""
WITH s AS (
  SELECT vec_id AS seed_id, embedding AS se FROM embeddings
  WHERE vec_id < {_KM_K}
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
zq AS (
  SELECT s.seed_id,
         unnest(generate_series(0, len(s.se) - 1)) AS dim,
         CAST(unnest(s.se) AS DOUBLE) AS y,
         CAST(unnest(q.qe) AS DOUBLE) AS qx
  FROM s CROSS JOIN q
),
lut AS (
  SELECT seed_id, dim // {_PQ_DSUB} AS sub,
         CAST(ROUND(SUM((qx - y) * (qx - y)) * 1.0e6) AS BIGINT) AS l_u
  FROM zq GROUP BY seed_id, dim // {_PQ_DSUB}
),
qcell AS (
  SELECT seed_id,
         CAST(ROUND(SUM((qx - y) * (qx - y)) * 1.0e6) AS BIGINT) AS d_u
  FROM zq GROUP BY seed_id
),
probes AS (
  SELECT seed_id FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY d_u, seed_id) AS rk FROM qcell
  ) WHERE rk <= {_IVFPQ_NPROBE}
),
zv AS (
  SELECT e.vec_id, s.seed_id,
         unnest(generate_series(0, len(e.embedding) - 1)) AS dim,
         CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(s.se) AS DOUBLE) AS y
  FROM embeddings e CROSS JOIN s
),
vfull AS (
  SELECT vec_id, seed_id,
         CAST(ROUND(SUM((x - y) * (x - y)) * 1.0e6) AS BIGINT) AS d_u
  FROM zv GROUP BY vec_id, seed_id
),
assign AS (
  SELECT vec_id, seed_id AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY d_u, seed_id) AS rk FROM vfull
  ) WHERE rk = 1
),
vsub AS (
  SELECT vec_id, seed_id, dim // {_PQ_DSUB} AS sub,
         CAST(ROUND(SUM((x - y) * (x - y)) * 1.0e6) AS BIGINT) AS d_u
  FROM zv GROUP BY vec_id, seed_id, dim // {_PQ_DSUB}
),
code AS (
  SELECT vec_id, sub, seed_id AS c FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id, sub ORDER BY d_u, seed_id) AS rk FROM vsub
  ) WHERE rk = 1
),
cand AS (
  SELECT a.vec_id, a.cell FROM assign a
  JOIN probes p ON p.seed_id = a.cell WHERE a.vec_id <> 0
),
adist AS (
  SELECT c0.vec_id, CAST(SUM(l.l_u) AS BIGINT) AS adist_u
  FROM code c0 JOIN cand ON cand.vec_id = c0.vec_id
  JOIN lut l ON l.sub = c0.sub AND l.seed_id = c0.c
  GROUP BY c0.vec_id
),
ze AS (
  SELECT e.vec_id,
         CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(q.qe) AS DOUBLE) AS qx
  FROM embeddings e CROSS JOIN q
),
ex AS (
  SELECT vec_id,
         CAST(ROUND(SUM((x - qx) * (x - qx)) * 1.0e6) AS BIGINT)
           AS exact_d_u
  FROM ze GROUP BY vec_id
)
SELECT cand.vec_id, CAST(cand.cell AS BIGINT) AS cell,
       adist.adist_u, ex.exact_d_u
FROM cand JOIN adist USING (vec_id) JOIN ex USING (vec_id)
ORDER BY adist_u, vec_id LIMIT 10
"""


@query("embed_ivfpq_search", oracle=_IVFPQ_ORACLE)
def embed_ivfpq_search(spark, sf_dir):
    """The composed production ANN shape — IVF coarse routing over PQ
    compressed scan: route the query to its nprobe=2 nearest k-means
    cells, then ADC-scan ONLY vectors assigned to those cells (codes
    in-row, the query's 64-entry LUT broadcast). This is the FAISS
    IVFPQ layout re-expressed relationally: scanned fraction ~
    nprobe/K of the corpus, per-scanned-vector cost m integer lookups.
    At 100 TB the assignment is precomputed at ingest (a partition
    column — cell pruning then happens at the SCAN via partition
    elimination, not a filter); here it is derived in-query so the
    whole path stays one self-contained, oracle-checked plan."""
    emb = _emb(spark, sf_dir)
    seeds = (
        emb.filter(F.col("vec_id") < _KM_K)
        .select(
            F.struct(
                F.col("vec_id").alias("seed_id"),
                F.col("embedding").alias("se"),
            ).alias("s")
        )
        .agg(F.sort_array(F.collect_list("s")).alias("seeds"))
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    sq8 = (
        "CAST(ROUND(aggregate(zip_with("
        "slice(qe, s * {d} + 1, {d}), slice(k.se, s * {d} + 1, {d}), "
        "(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "0.0e0, (acc, v) -> acc + v) * 1.0e6) AS BIGINT)"
    ).format(d=_PQ_DSUB)
    qfull = _L2U.format(a="qe", b="k.se")
    lutrow = seeds.join(q).select(
        "qe",
        "seeds",
        F.expr(
            f"flatten(transform(sequence(0, {_PQ_M} - 1), s -> "
            f"transform(seeds, k -> {sq8})))"
        ).alias("lut"),
        F.expr(
            "slice(transform(sort_array(transform(seeds, k -> "
            f"struct({qfull} AS d_u, k.seed_id AS seed_id))), "
            f"x -> x.seed_id), 1, {_IVFPQ_NPROBE})"
        ).alias("probes"),
    )
    cell_expr = (
        "array_min(transform(seeds, k -> struct("
        + _L2U.format(a="embedding", b="k.se")
        + " AS d_u, k.seed_id AS seed_id))).seed_id"
    )
    adist = (
        "aggregate(transform(" + _PQ_CODE_SPARK + ", (c, s) -> "
        f"element_at(lut, CAST(s * {_KM_K} + c.seed_id + 1 AS INT))), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(lutrow))
        .withColumn("cell", F.expr(cell_expr).cast("bigint"))
        .filter(F.expr("array_contains(probes, cell)"))
        .select(
            "vec_id",
            "cell",
            F.expr(adist).alias("adist_u"),
            F.expr(_L2U.format(a="embedding", b="qe")).alias("exact_d_u"),
        )
        .orderBy("adist_u", "vec_id")
        .limit(10)
    )


# --- power-iteration PC1 (iterative algorithm, oracle-exact) --------------

_PI_ITERS = 4
_PI_DIMS = 64
_PI_V0_U = 125_000  # 1/8 in 1e-6 units: ||(1/8,...,1/8)||_64 = 1 exactly


def _pi_oracle() -> str:
    """Unrolled power iteration as a DuckDB CTE chain. Every cross-row
    sum is exact integer arithmetic (snapped operands), and the one
    order-sensitive float reduction — the per-vector dot product — is
    pinned with an ordered aggregate (SUM(... ORDER BY dim)), which
    DuckDB evaluates as the same left-to-right fold Spark's
    `aggregate(zip_with(...))` runs. Iterations are therefore
    bit-identical across engines."""
    cte = [f"""rows0 AS MATERIALIZED (
  SELECT vec_id,
         unnest(generate_series(0, len(embedding) - 1)) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
nn AS (SELECT COUNT(*) AS n FROM embeddings),
mu AS MATERIALIZED (
  SELECT dim, CAST(ROUND(CAST(SUM(CAST(ROUND(x * 1.0e6) AS BIGINT))
    AS DOUBLE) / (SELECT n FROM nn)) AS BIGINT) AS mu
  FROM rows0 GROUP BY dim
),
v0 AS (SELECT unnest(range(0, {_PI_DIMS})) AS dim,
              CAST({_PI_V0_U} AS BIGINT) AS vu)"""]
    for k in range(1, _PI_ITERS + 1):
        p = k - 1
        cte.append(f"""imv{k} AS (
  SELECT SUM(mu * vu) AS imv FROM mu JOIN v{p} USING (dim)
),
dot{k} AS (
  SELECT r.vec_id,
         SUM(r.x * (CAST(v.vu AS DOUBLE) / 1.0e6) ORDER BY r.dim) AS dot
  FROM rows0 r JOIN v{p} v USING (dim) GROUP BY r.vec_id
),
t{k} AS MATERIALIZED (
  SELECT vec_id, CAST(ROUND((dot - CAST((SELECT imv FROM imv{k}) AS DOUBLE)
    / 1.0e12) * 1.0e6) AS BIGINT) AS tu
  FROM dot{k}
),
st{k} AS (SELECT SUM(tu) AS st FROM t{k}),
sw{k} AS (
  SELECT r.dim, SUM(CAST(ROUND(r.x * CAST(t.tu AS DOUBLE)) AS BIGINT)) AS sw
  FROM rows0 r JOIN t{k} t USING (vec_id) GROUP BY r.dim
),
w{k} AS MATERIALIZED (
  SELECT dim, CAST(ROUND((CAST(sw AS DOUBLE)
    - CAST(mu * (SELECT st FROM st{k}) AS DOUBLE) / 1.0e6)
    / (SELECT n FROM nn)) AS BIGINT) AS wu
  FROM sw{k} JOIN mu USING (dim)
),
nr{k} AS (SELECT SUM(wu * wu) AS s2 FROM w{k}),
v{k} AS MATERIALIZED (
  SELECT dim, CAST(ROUND(CAST(wu AS DOUBLE)
    / SQRT(CAST((SELECT s2 FROM nr{k}) AS DOUBLE)) * 1.0e6) AS BIGINT) AS vu
  FROM w{k}
)""")
    last = _PI_ITERS
    cte.append(f"""sgn AS (
  SELECT CASE WHEN (SELECT vu FROM v{last} WHERE vu <> 0
                    ORDER BY dim LIMIT 1) < 0 THEN -1 ELSE 1 END AS s
),
lam AS (SELECT CAST(ROUND(SQRT(CAST(s2 AS DOUBLE))) AS BIGINT) AS lu
        FROM nr{last})""")
    return (
        "WITH " + ",\n".join(cte) + f"""
SELECT dim, CAST(vu * (SELECT s FROM sgn) AS DOUBLE) / 1.0e6 AS loading,
       CAST((SELECT lu FROM lam) AS DOUBLE) / 1.0e6 AS eigenvalue
FROM v{last}"""
    )


@query("embed_power_iteration_pc1", oracle=_pi_oracle())
def embed_power_iteration_pc1(spark, sf_dir):
    """Top principal component of the embedding corpus by FOUR matrix-
    free power iterations — the iterative-algorithm pattern (MLlib-style
    driver loop: per-iteration state is the 64-int snapped vector, the
    data never leaves the cluster). Each iteration is one narrow pass
    computing per-row projections t_i = (x_i - m) . v, one per-dim
    exact-integer aggregate of x_i[d] * t_i, and a 64-row normalize;
    every cross-row reduction rides snapped integers, and the per-row
    dot is a left fold — so all four iterations, and hence the final
    loadings, are bit-identical to the unrolled SQL oracle. Unlike
    embed_label_pca (grouped-map numpy, rows-only check) this scales to
    corpora no single executor can hold and is oracle-gated. The corpus
    frame is MATERIALIZED: the count, the mean pass, and every
    iteration read it, and unpersisted each pass re-scanned parquet
    (6 scans in the round-7 audit) — cached rounds are the whole point
    of the matrix-free formulation."""
    emb = T.materialize(_emb(spark, sf_dir))
    n = emb.count()
    rows = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    mu_rows = (
        rows.groupBy("dim")
        .agg(
            F.expr(
                "CAST(ROUND(CAST(SUM(CAST(ROUND(x * 1.0e6) AS BIGINT)) "
                f"AS DOUBLE) / {n}) AS BIGINT)"
            ).alias("mu")
        )
        .collect()
    )
    mu = {r["dim"]: r["mu"] for r in mu_rows}
    vu = [_PI_V0_U] * _PI_DIMS
    lam_u = 0
    for _ in range(_PI_ITERS):
        imv = sum(mu[d] * vu[d] for d in range(_PI_DIMS))  # exact ints
        varr = "array(" + ", ".join(
            f"CAST({u} AS BIGINT)" for u in vu
        ) + ")"
        dot = (
            f"aggregate(zip_with(embedding, {varr}, "
            "(x, vu) -> CAST(x AS DOUBLE) * (CAST(vu AS DOUBLE) / 1.0e6)), "
            "0.0e0, (acc, v) -> acc + v)"
        )
        t = T.materialize(
            emb.select(
                "embedding",
                F.expr(
                    f"CAST(ROUND(({dot} - CAST({imv} AS DOUBLE) / 1.0e12)"
                    " * 1.0e6) AS BIGINT)"
                ).alias("tu"),
            )
        )
        st = t.agg(F.sum("tu")).collect()[0][0]
        sw_rows = (
            t.select(F.posexplode("embedding").alias("dim", "xf"), "tu")
            .groupBy("dim")
            .agg(
                F.sum(
                    F.expr(
                        "CAST(ROUND(CAST(xf AS DOUBLE) * CAST(tu AS DOUBLE))"
                        " AS BIGINT)"
                    )
                ).alias("sw")
            )
            .collect()
        )
        sw = {r["dim"]: r["sw"] for r in sw_rows}
        w_df = spark.createDataFrame(
            [(d, int(sw[d]), int(mu[d])) for d in range(_PI_DIMS)],
            "dim INT, sw BIGINT, mu BIGINT",
        ).select(
            "dim",
            F.expr(
                f"CAST(ROUND((CAST(sw AS DOUBLE) - "
                f"CAST(mu * CAST({st} AS BIGINT) AS DOUBLE) / 1.0e6)"
                f" / {n}) AS BIGINT)"
            ).alias("wu"),
        )
        w_df = T.materialize(w_df)
        nrm2 = w_df.agg(F.sum(F.expr("wu * wu"))).collect()[0][0]
        v_rows = w_df.select(
            "dim",
            F.expr(
                f"CAST(ROUND(CAST(wu AS DOUBLE) / "
                f"SQRT(CAST({nrm2} AS DOUBLE)) * 1.0e6) AS BIGINT)"
            ).alias("vu"),
        ).collect()
        vu_map = {r["dim"]: r["vu"] for r in v_rows}
        vu = [int(vu_map[d]) for d in range(_PI_DIMS)]
        lam_row = spark.sql(
            f"SELECT CAST(ROUND(SQRT(CAST({nrm2} AS DOUBLE))) AS BIGINT) AS l"
        ).collect()
        lam_u = int(lam_row[0]["l"])
    s = 1
    for u in vu:
        if u != 0:
            s = -1 if u < 0 else 1
            break
    out = spark.createDataFrame(
        [(d, int(vu[d] * s), lam_u) for d in range(_PI_DIMS)],
        "dim INT, vu BIGINT, lu BIGINT",
    )
    return out.select(
        "dim",
        F.expr("CAST(vu AS DOUBLE) / 1.0e6").alias("loading"),
        F.expr("CAST(lu AS DOUBLE) / 1.0e6").alias("eigenvalue"),
    )


# --- silhouette score over the label clustering ---------------------------

_SIL_ORACLE = """
WITH ex AS (
  SELECT label,
         unnest(generate_series(0, len(embedding) - 1)) AS dim,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1.0e6) AS BIGINT)
           AS x_u
  FROM embeddings
),
c AS (
  SELECT label, dim, SUM(x_u) AS s_u, COUNT(*) AS n
  FROM ex GROUP BY label, dim
),
v AS (
  SELECT vec_id, label,
         unnest(generate_series(0, len(embedding) - 1)) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
d AS (
  SELECT v.vec_id, v.label, c.label AS clabel,
         CAST(ROUND(SUM(
           (v.x - CAST(c.s_u AS DOUBLE) / (1.0e6 * c.n)) *
           (v.x - CAST(c.s_u AS DOUBLE) / (1.0e6 * c.n))
         ) * 1.0e6) AS BIGINT) AS d_u
  FROM v JOIN c ON v.dim = c.dim
  GROUP BY v.vec_id, v.label, c.label
),
ab AS (
  SELECT vec_id, label,
         SQRT(CAST(MAX(CASE WHEN clabel = label THEN d_u END) AS DOUBLE)
              / 1.0e6) AS a,
         SQRT(CAST(MIN(CASE WHEN clabel <> label THEN d_u END) AS DOUBLE)
              / 1.0e6) AS b
  FROM d GROUP BY vec_id, label
),
s AS (
  SELECT label,
         CASE WHEN GREATEST(a, b) = 0.0e0 THEN CAST(0 AS BIGINT)
              ELSE CAST(ROUND((b - a) / GREATEST(a, b) * 1.0e6) AS BIGINT)
         END AS s_u
  FROM ab
)
SELECT label, COUNT(*) AS n_vectors,
       CAST(SUM(s_u) AS DOUBLE) / (1.0e6 * COUNT(*)) AS mean_silhouette
FROM s GROUP BY label
"""


@query("embed_silhouette_labels", oracle=_SIL_ORACLE)
def embed_silhouette_labels(spark, sf_dir):
    """Clustering-quality audit of the label partition: simplified
    silhouette s = (b - a) / max(a, b) per vector, where a = Euclidean
    distance to the OWN label centroid and b = distance to the nearest
    OTHER centroid; output is per-label mean silhouette. Centroids come
    from one posexplode + |labels| x dims exact-integer hash aggregate
    (micro-snapped element sums, same doctrine as embed_kmeans_update),
    collapse to ONE broadcast array row, and every per-vector distance
    is an in-row fold against that broadcast — zero corpus-side
    shuffles before the final per-label aggregate. Squared distances
    snap to integer micro-units before sqrt, per-vector silhouettes
    snap to micro-units before the exact integer mean, so the hash
    compare never sees float summation order. The metric completes the
    clustering suite: assign (embed_kmeans_assign) -> update
    (embed_kmeans_update) -> evaluate (here)."""
    emb = _emb(spark, sf_dir)
    cent_long = (
        emb.select("label", F.posexplode("embedding").alias("dim", "xf"))
        .select(
            "label",
            "dim",
            F.expr(
                "CAST(ROUND(CAST(xf AS DOUBLE) * 1.0e6) AS BIGINT)"
            ).alias("x_u"),
        )
        .groupBy("label", "dim")
        .agg(F.sum("x_u").alias("s_u"), F.count(F.lit(1)).alias("n"))
    )
    carr = cent_long.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, "
            "CAST(s_u AS DOUBLE) / (1.0e6 * n) AS cd))), s -> s.cd)"
        ).alias("carr")
    )
    cents = carr.agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("label").alias("clabel"), F.col("carr"))
            )
        ).alias("cents")
    )
    dist = _L2U.format(a="embedding", b="c.carr")
    ab = emb.join(F.broadcast(cents)).select(
        "vec_id",
        "label",
        F.expr(
            "SQRT(CAST(filter(transform(cents, c -> struct("
            + dist
            + " AS d_u, c.clabel AS clabel)), x -> x.clabel = label)[0].d_u"
            " AS DOUBLE) / 1.0e6)"
        ).alias("a"),
        F.expr(
            "SQRT(CAST(array_min(filter(transform(cents, c -> struct("
            + dist
            + " AS d_u, c.clabel AS clabel)), x -> x.clabel != label)).d_u"
            " AS DOUBLE) / 1.0e6)"
        ).alias("b"),
    )
    s = ab.select(
        "label",
        F.expr(
            "CASE WHEN GREATEST(a, b) = 0.0e0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(ROUND((b - a) / GREATEST(a, b) * 1.0e6) AS BIGINT) "
            "END"
        ).alias("s_u"),
    )
    return s.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.expr(
            "CAST(SUM(s_u) AS DOUBLE) / (1.0e6 * COUNT(*))"
        ).alias("mean_silhouette"),
    )


# --- embedding-quality norm audit -----------------------------------------

_NORM_ORACLE = """
WITH n AS (
  SELECT label, len(embedding) AS n_dims,
         CASE WHEN len(list_filter(embedding,
                x -> x IS NULL OR isnan(CAST(x AS DOUBLE)))) > 0
              THEN 1 ELSE 0 END AS bad,
         CAST(ROUND(SQRT(CAST((
           SELECT CAST(ROUND(SUM(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE))
                  * 1.0e6) AS BIGINT)
           FROM unnest(embedding) AS u(x)
         ) AS DOUBLE) / 1.0e6) * 1.0e6) AS BIGINT) AS norm_u
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vectors,
       MIN(n_dims) AS min_dims, MAX(n_dims) AS max_dims,
       SUM(bad) AS n_nonfinite,
       COUNT(CASE WHEN norm_u = 0 THEN 1 END) AS n_zero_norm,
       CAST(SUM(norm_u) AS DOUBLE) / (1.0e6 * COUNT(*)) AS mean_norm,
       CAST(MIN(norm_u) AS DOUBLE) / 1.0e6 AS min_norm,
       CAST(MAX(norm_u) AS DOUBLE) / 1.0e6 AS max_norm
FROM n GROUP BY label
"""


@query("embed_norm_stats", oracle=_NORM_ORACLE)
def embed_norm_stats(spark, sf_dir):
    """Vector-quality gate for the embedding corpus, per label:
    dimensionality consistency (min/max dims), non-finite element
    counts, zero-norm counts, and the L2-norm distribution (mean / min /
    max). Run this BEFORE building any index — a 100 TB ANN build that
    discovers NaN vectors at query time is a re-run; here it is one
    narrow in-row pass (fold for the squared norm, exists() for the
    finiteness probe — no explode, no shuffle before the per-label
    aggregate). Squared norms snap to integer micro-units, then the
    norm itself snaps again after sqrt, so sums and extrema are exact
    cross-engine."""
    emb = _emb(spark, sf_dir)
    n = emb.select(
        "label",
        F.expr("CAST(size(embedding) AS BIGINT)").alias("n_dims"),
        F.expr(
            "CASE WHEN exists(embedding, "
            "x -> x IS NULL OR isnan(CAST(x AS DOUBLE))) "
            "THEN 1 ELSE 0 END"
        ).alias("bad"),
        F.expr(
            "CAST(ROUND(SQRT(CAST("
            "CAST(ROUND(aggregate(embedding, 0.0e0, "
            "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) "
            "* 1.0e6) AS BIGINT)"
            " AS DOUBLE) / 1.0e6) * 1.0e6) AS BIGINT)"
        ).alias("norm_u"),
    )
    return n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("n_dims").alias("min_dims"),
        F.max("n_dims").alias("max_dims"),
        F.sum("bad").alias("n_nonfinite"),
        F.count(F.when(F.col("norm_u") == 0, 1)).alias("n_zero_norm"),
        F.expr("CAST(SUM(norm_u) AS DOUBLE) / (1.0e6 * COUNT(*))").alias(
            "mean_norm"
        ),
        F.expr("CAST(MIN(norm_u) AS DOUBLE) / 1.0e6").alias("min_norm"),
        F.expr("CAST(MAX(norm_u) AS DOUBLE) / 1.0e6").alias("max_norm"),
    )


# --- embedding centroid drift monitor -------------------------------------

#: per-(label, dim) squared centroid difference, snapped to integer
#: micro-units before the per-label sum (centroids are exact rationals
#: from integer sums, so the one subtraction+square per cell is a
#: deterministic IEEE evaluation in both engines)
_DRIFT_TERM_U = (
    "CAST(ROUND(POW("
    "CAST(sa AS DOUBLE) / (1.0e6 * na) - CAST(sb AS DOUBLE) / (1.0e6 * nb),"
    " 2.0e0) * 1.0e6) AS BIGINT)"
)

_DRIFT_NORM_U = (
    "CAST(ROUND(POW(CAST(sa AS DOUBLE) / (1.0e6 * na), 2.0e0) * 1.0e6) "
    "AS BIGINT)"
)

_CDRIFT_ORACLE = f"""
WITH ex AS (
  SELECT label, vec_id % 2 AS half,
         unnest(generate_series(0, len(embedding) - 1)) AS dim,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1.0e6) AS BIGINT)
           AS x_u
  FROM embeddings
),
c AS (
  SELECT label, half, dim, SUM(x_u) AS s_u, COUNT(*) AS n
  FROM ex GROUP BY label, half, dim
),
w AS (
  SELECT a.label, a.dim, a.s_u AS sa, a.n AS na, b.s_u AS sb, b.n AS nb
  FROM c a JOIN c b ON a.label = b.label AND a.dim = b.dim
  WHERE a.half = 0 AND b.half = 1
)
SELECT label, CAST(MAX(na) AS BIGINT) AS n_ref,
       CAST(MAX(nb) AS BIGINT) AS n_new,
       {rnd("SQRT(CAST(SUM(" + _DRIFT_TERM_U + ") AS DOUBLE) / 1.0e6)", 6)}
         AS drift_l2,
       {rnd(
           "SQRT(CAST(SUM(" + _DRIFT_TERM_U + ") AS DOUBLE)"
           " / CAST(SUM(" + _DRIFT_NORM_U + ") AS DOUBLE))", 6)}
         AS drift_rel
FROM w GROUP BY label
"""


@query("embed_centroid_drift", oracle=_CDRIFT_ORACLE)
def embed_centroid_drift(spark, sf_dir):
    """Embedding drift monitor: per-label centroid shift between two
    corpus halves (even vs odd vec_id — standing in for reference batch
    vs refreshed batch / old encoder vs re-embedded corpus). Reports
    absolute L2 drift and drift relative to the reference centroid's
    norm — the alarm that re-embedding moved the space enough to
    invalidate an ANN index or stored thresholds. One posexplode +
    (label x half x dims) exact-integer aggregate, a self-join on the
    cell frame (dimension-sized), per-cell squared differences snapped
    to micro-units, exact sums, sqrt at the edge. Zero corpus-side
    shuffles beyond the one cell aggregate."""
    emb = _emb(spark, sf_dir)
    ex = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim", "xf"),
    ).select(
        "label",
        "half",
        "dim",
        F.expr("CAST(ROUND(CAST(xf AS DOUBLE) * 1.0e6) AS BIGINT)").alias(
            "x_u"
        ),
    )
    c = T.materialize(
        ex.groupBy("label", "half", "dim").agg(
            F.sum("x_u").alias("s_u"), F.count(F.lit(1)).alias("n")
        )
    )
    a = c.filter(F.col("half") == 0).select(
        "label", "dim", F.col("s_u").alias("sa"), F.col("n").alias("na")
    )
    b = c.filter(F.col("half") == 1).select(
        "label", "dim", F.col("s_u").alias("sb"), F.col("n").alias("nb")
    )
    w = a.join(b, ["label", "dim"])
    return w.groupBy("label").agg(
        F.max("na").cast("bigint").alias("n_ref"),
        F.max("nb").cast("bigint").alias("n_new"),
        F.expr(
            rnd(
                "SQRT(CAST(SUM(" + _DRIFT_TERM_U + ") AS DOUBLE) / 1.0e6)",
                6,
            )
        ).alias("drift_l2"),
        F.expr(
            rnd(
                "SQRT(CAST(SUM(" + _DRIFT_TERM_U + ") AS DOUBLE)"
                " / CAST(SUM(" + _DRIFT_NORM_U + ") AS DOUBLE))",
                6,
            )
        ).alias("drift_rel"),
    )


# --- IVF nprobe tuning matrix ---------------------------------------------

_NPROBES = [1, 2, 4]


def _nprobe_oracle() -> str:
    head = (
        "WITH q AS (SELECT vec_id AS q_id, embedding AS qe "
        f"FROM embeddings WHERE vec_id < {_NQ}), "
        "qz AS (SELECT q_id, CAST(unnest(qe) AS DOUBLE) AS qx, "
        "generate_subscripts(qe, 1) - 1 AS d FROM q), "
        "z AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x, "
        "generate_subscripts(embedding, 1) - 1 AS d FROM embeddings), "
        "pair AS (SELECT qz.q_id, z.vec_id, SUM(z.x * qz.qx) AS dot, "
        "SUM(z.x * z.x) AS n2, SUM(qz.qx * qz.qx) AS q2 "
        "FROM z JOIN qz USING (d) WHERE z.vec_id <> qz.q_id GROUP BY 1, 2), "
        "er AS (SELECT q_id, vec_id, ROW_NUMBER() OVER ("
        f"PARTITION BY q_id ORDER BY {_COS} DESC, vec_id) AS rk FROM pair), "
        f"ex AS (SELECT q_id, vec_id FROM er WHERE rk <= {_K}), "
        "cent AS (SELECT label, d, AVG(x) AS c FROM z GROUP BY 1, 2), "
        "ls AS (SELECT qz.q_id, cent.label, "
        "SUM(qz.qx * cent.c) / (SQRT(SUM(cent.c * cent.c)) "
        "* SQRT(SUM(qz.qx * qz.qx))) AS cos "
        "FROM cent JOIN qz USING (d) GROUP BY 1, 2), "
        "rkl AS (SELECT q_id, label, ROW_NUMBER() OVER ("
        "PARTITION BY q_id ORDER BY " + rnd("cos", 6)
        + " DESC, label) AS lrk FROM ls)"
    )
    rows = []
    for p in _NPROBES:
        head += (
            f", cand{p} AS (SELECT b.q_id, e.vec_id, e.embedding "
            f"FROM embeddings e JOIN rkl b ON e.label = b.label "
            f"AND b.lrk <= {p} AND e.vec_id <> b.q_id), "
            f"cz{p} AS (SELECT q_id, vec_id, "
            "CAST(unnest(embedding) AS DOUBLE) AS x, "
            f"generate_subscripts(embedding, 1) - 1 AS d FROM cand{p}), "
            f"ip{p} AS (SELECT cz{p}.q_id, cz{p}.vec_id, "
            f"SUM(cz{p}.x * qz.qx) AS dot, SUM(cz{p}.x * cz{p}.x) AS n2, "
            f"SUM(qz.qx * qz.qx) AS q2 FROM cz{p} "
            f"JOIN qz ON cz{p}.d = qz.d AND cz{p}.q_id = qz.q_id "
            "GROUP BY 1, 2), "
            f"ir{p} AS (SELECT q_id, vec_id, ROW_NUMBER() OVER ("
            f"PARTITION BY q_id ORDER BY {_COS} DESC, vec_id) AS rk "
            f"FROM ip{p}), "
            f"iv{p} AS (SELECT q_id, vec_id FROM ir{p} WHERE rk <= {_K})"
        )
        rows.append(
            f"SELECT {p} AS nprobe, "
            f"(SELECT COUNT(*) FROM cand{p}) AS n_scanned, "
            f"(SELECT COUNT(*) FROM ex JOIN iv{p} "
            f"ON ex.q_id = iv{p}.q_id AND ex.vec_id = iv{p}.vec_id) "
            "AS n_hits, "
            + rnd(
                f"CAST((SELECT COUNT(*) FROM ex JOIN iv{p} "
                f"ON ex.q_id = iv{p}.q_id AND ex.vec_id = iv{p}.vec_id) "
                f"AS DOUBLE) / {_NQ * _K}.0e0",
                4,
            )
            + " AS recall_at_5"
        )
    return head + " " + " UNION ALL ".join(rows)


@query("embed_ivf_nprobe_matrix", oracle=_nprobe_oracle())
def embed_ivf_nprobe_matrix(spark, sf_dir):
    """IVF nprobe tuning matrix, measured: recall@5 of the IVF route
    probing the 1 / 2 / 4 nearest inverted lists, with the scanned-
    vector count as the cost axis — the ANN twin of
    dedup_minhash_band_tuning (that one tunes blocking; this one tunes
    probe depth) and the number that picks nprobe BEFORE an index
    serves production traffic. The centroid route table and the exact
    top-5 truth set compute ONCE (materialized); each config adds only
    a probed-list scan + per-query top-5 heap + a K-row join against
    the truth set. The corpus frame itself is MATERIALIZED too — the
    truth set, the route table, and each config's probe all read it,
    and unpersisted those reads each re-scanned parquet (12 scans in
    the round-7 audit)."""
    emb = T.materialize(_emb(spark, sf_dir))
    q = emb.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    wq = Window.partitionBy("q_id")

    def top5(pairs):
        scored = pairs.select(
            "q_id",
            "vec_id",
            F.expr(_DOT.format(a="embedding", b="qe")).alias("dot"),
            F.expr(_DOT.format(a="embedding", b="embedding")).alias("n2"),
            F.expr(_DOT.format(a="qe", b="qe")).alias("q2"),
        ).select("q_id", "vec_id", F.expr(_COS).alias("cosine"))
        return (
            scored.withColumn(
                "rk",
                F.row_number().over(wq.orderBy(F.desc("cosine"), "vec_id")),
            )
            .filter(F.col("rk") <= _K)
            .select("q_id", "vec_id")
        )

    exact5 = T.materialize(
        top5(
            emb.crossJoin(F.broadcast(q)).filter(
                F.col("vec_id") != F.col("q_id")
            )
        )
    )
    z = emb.select(
        "vec_id", "label", F.posexplode(F.col("embedding")).alias("d", "xf")
    ).select("vec_id", "label", "d", F.col("xf").cast("double").alias("x"))
    cent = z.groupBy("label", "d").agg(F.avg("x").alias("c"))
    qz = q.select(
        "q_id", F.posexplode(F.col("qe")).alias("d", "qxf")
    ).select("q_id", "d", F.col("qxf").cast("double").alias("qx"))
    ls = (
        cent.join(F.broadcast(qz), "d")
        .groupBy("q_id", "label")
        .agg(
            (
                F.sum(F.col("qx") * F.col("c"))
                / (
                    F.sqrt(F.sum(F.col("c") * F.col("c")))
                    * F.sqrt(F.sum(F.col("qx") * F.col("qx")))
                )
            ).alias("cos")
        )
    )
    rkl = T.materialize(
        ls.withColumn(
            "lrk",
            F.row_number().over(
                wq.orderBy(F.desc(F.expr(rnd("cos", 6))), "label")
            ),
        ).select("q_id", "label", "lrk")
    )
    out = None
    for p in _NPROBES:
        route = rkl.filter(F.col("lrk") <= p).select("q_id", "label")
        cand = (
            emb.join(F.broadcast(route), "label")
            .filter(F.col("vec_id") != F.col("q_id"))
            .join(F.broadcast(q), "q_id")
        )
        scanned = cand.agg(F.count(F.lit(1)).alias("n_scanned"))
        hits = (
            exact5.join(top5(cand), ["q_id", "vec_id"])
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        row = (
            scanned.join(F.broadcast(hits))
            .select(
                F.lit(p).alias("nprobe"),
                "n_scanned",
                "n_hits",
                F.expr(
                    rnd(f"CAST(n_hits AS DOUBLE) / {_NQ * _K}.0e0", 4)
                ).alias("recall_at_5"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- Johnson-Lindenstrauss random sign projection (64 -> 8 dims) ----------

#: deterministic +/-1 sign for (dim i, output axis k): a fixed integer
#: hash both engines evaluate identically in BIGINT. Production swaps in
#: xxhash64(i, k, seed); the projection's JL guarantee only needs the
#: signs to be fixed and ~balanced, which this is.
_RP_SIGN = (
    "(CASE WHEN ((CAST({i} AS BIGINT) * 73856093 + "
    "(CAST({k} AS BIGINT) + 1) * 19349663) % 1000003) % 2 = 0 "
    "THEN 1 ELSE -1 END)"
)

_RP_OUT = 8

_RP_ORACLE = (
    "WITH cells AS (SELECT vec_id, "
    "generate_subscripts(embedding, 1) AS i, "
    "CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1.0e6) AS BIGINT) AS eu "
    "FROM embeddings) "
    "SELECT vec_id, CAST(k AS INT) AS k, "
    "CAST(SUM(" + _RP_SIGN.format(i="i", k="k") + " * eu) AS DOUBLE) / 1.0e6"
    " AS comp FROM cells, generate_series(0, " + str(_RP_OUT - 1) + ")"
    " AS kk(k) GROUP BY vec_id, k"
)


@query("embed_random_projection", oracle=_RP_ORACLE)
def embed_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss dimensionality reduction: project each
    64-dim vector onto 8 random +/-1 sign axes (Achlioptas'
    database-friendly construction — no Gaussian sampling, no stored
    projection matrix; the sign is a pure integer hash of (dim, axis)
    recomputed on the fly). The entire projection is IN-ROW: one
    `transform` over the 8 axes, each an `aggregate` fold of exact
    micro-unit integers over the vector's own dims — zero shuffles,
    zero Python, embarrassingly parallel at any corpus size. Each
    component is an exact BIGINT sum emitted long-form (vec_id, axis,
    value); downstream ANN sketches consume it as the cheap pre-filter
    space. Oracle computes the same signs and sums by explicit
    unnest + group-by."""
    emb = _emb(spark, sf_dir)
    sgn = _RP_SIGN.format(i="i", k="k")
    return emb.selectExpr(
        "vec_id",
        f"""posexplode(transform(sequence(0, {_RP_OUT - 1}), k ->
            aggregate(sequence(1, size(embedding)), CAST(0 AS BIGINT),
              (acc, i) -> acc + {sgn} *
                CAST(ROUND(CAST(element_at(embedding, i) AS DOUBLE)
                           * 1.0e6) AS BIGINT))))
           AS (k, comp_u)""",
    ).selectExpr(
        "vec_id", "CAST(k AS INT) AS k",
        "CAST(comp_u AS DOUBLE) / 1.0e6 AS comp",
    )


# --- MMR diversified re-ranking -------------------------------------------

_MMR_K = 4       # results to select
_MMR_POOL = 8    # relevance candidate pool
#: score = 0.7 * relevance - 0.3 * max-similarity-to-selected, computed
#: on integer micro-cosines and re-snapped per step
_MMR_SCORE = "CAST(ROUND(0.7e0 * {rel} - 0.3e0 * {ms}) AS BIGINT)"


def _mmr_tail(cand: str, sims: str) -> str:
    """Shared greedy-selection text over cand(vec_id, rel_u) and the
    symmetric sims(v1, v2, sim_u): K unrolled argmax steps, each a
    candidate-pool-sized aggregate (the pool is tiny by construction —
    this is a RE-ranker; the heavy top-N retrieval already happened)."""
    steps = ["s1 AS (SELECT vec_id, rel_u FROM " + cand
             + " ORDER BY rel_u DESC, vec_id LIMIT 1)"]
    sel = "s1"
    for k in range(2, _MMR_K + 1):
        prev_sel = sel
        steps.append(
            f"r{k} AS (SELECT c.vec_id, c.rel_u, MAX(s.sim_u) AS ms "
            f"FROM {cand} c JOIN {sims} s ON s.v1 = c.vec_id "
            f"JOIN {prev_sel} t ON s.v2 = t.vec_id "
            f"WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev_sel}) "
            "GROUP BY c.vec_id, c.rel_u)"
        )
        steps.append(
            f"s{k}_pick AS (SELECT vec_id, rel_u FROM r{k} ORDER BY "
            + _MMR_SCORE.format(rel="rel_u", ms="ms")
            + " DESC, vec_id LIMIT 1)"
        )
        steps.append(
            f"sel{k} AS (SELECT * FROM {prev_sel} "
            f"UNION ALL SELECT * FROM s{k}_pick)"
        )
        sel = f"sel{k}"
    finals = " UNION ALL ".join(
        f"SELECT {k} AS mmr_rank, vec_id, "
        "CAST(rel_u AS DOUBLE) / 1.0e6 AS relevance FROM "
        + ("s1" if k == 1 else f"s{k}_pick")
        for k in range(1, _MMR_K + 1)
    )
    return ", ".join(steps) + " " + finals


_MMR_ORACLE = (
    "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), "
    "zr AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, "
    "CAST(unnest(qe) AS DOUBLE) AS y FROM embeddings, q "
    "WHERE vec_id <> 0), "
    "dr AS (SELECT vec_id, SUM(x * y) AS dot, SUM(x * x) AS n2, "
    "SUM(y * y) AS q2 FROM zr GROUP BY vec_id), "
    "cand AS (SELECT vec_id, "
    "CAST(ROUND(dot / (SQRT(n2) * SQRT(q2)) * 1.0e6) AS BIGINT) AS rel_u "
    f"FROM dr ORDER BY rel_u DESC, vec_id LIMIT {_MMR_POOL}), "
    "ce AS (SELECT c.vec_id, e.embedding FROM cand c "
    "JOIN embeddings e USING (vec_id)), "
    "zp AS (SELECT a.vec_id AS v1, b.vec_id AS v2, "
    "CAST(unnest(a.embedding) AS DOUBLE) AS x, "
    "CAST(unnest(b.embedding) AS DOUBLE) AS y "
    "FROM ce a JOIN ce b ON a.vec_id < b.vec_id), "
    "dp AS (SELECT v1, v2, SUM(x * y) AS dot, SUM(x * x) AS n2, "
    "SUM(y * y) AS m2 FROM zp GROUP BY v1, v2), "
    "halfsims AS (SELECT v1, v2, "
    "CAST(ROUND(dot / (SQRT(n2) * SQRT(m2)) * 1.0e6) AS BIGINT) AS sim_u "
    "FROM dp), "
    "simsym AS (SELECT v1, v2, sim_u FROM halfsims "
    "UNION ALL SELECT v2 AS v1, v1 AS v2, sim_u FROM halfsims), "
    + _mmr_tail("cand", "simsym")
)


@query("embed_mmr_rerank", oracle=_MMR_ORACLE)
def embed_mmr_rerank(spark, sf_dir):
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein):
    from the cosine top-8 pool for query vec 0, greedily select 4
    results maximizing 0.7*relevance - 0.3*max-similarity-to-already-
    selected — the diversity pass every retrieval stack runs between
    ANN recall and the LLM context window. The expensive parts (pool
    retrieval = one narrow scan + heap; pairwise sims = pool^2 in-row
    folds) are Spark-shaped; the greedy loop is K unrolled
    pool-sized argmax steps on integer micro-cosines, so selection is
    deterministic and engine-exact. Completes the retrieval family:
    BM25 (lexical), kNN/IVF/LSH/PQ (vector recall), MMR (result
    diversity)."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.expr(
                "CAST(ROUND("
                + _DOT.format(a="embedding", b="qe")
                + " / (SQRT(" + _DOT.format(a="embedding", b="embedding")
                + ") * SQRT(" + _DOT.format(a="qe", b="qe")
                + ")) * 1.0e6) AS BIGINT)"
            ).alias("rel_u"),
        )
        .orderBy(F.desc("rel_u"), "vec_id")
        .limit(_MMR_POOL)
    )
    # pinned: the unrolled greedy tail references cand/sims many times
    # (each selk is a union of every earlier pick) — without checkpoints
    # the whole retrieval re-executes per reference
    cand = T.materialize(cand)
    ce = T.materialize(
        cand.join(emb.select("vec_id", "embedding"), "vec_id")
    )
    a = ce.select(
        F.col("vec_id").alias("v1"), F.col("embedding").alias("e1")
    )
    b = ce.select(
        F.col("vec_id").alias("v2"), F.col("embedding").alias("e2")
    )
    half = (
        a.join(F.broadcast(b), F.col("v1") < F.col("v2"))
        .select(
            "v1",
            "v2",
            F.expr(
                "CAST(ROUND("
                + _DOT.format(a="e1", b="e2")
                + " / (SQRT(" + _DOT.format(a="e1", b="e1")
                + ") * SQRT(" + _DOT.format(a="e2", b="e2")
                + ")) * 1.0e6) AS BIGINT)"
            ).alias("sim_u"),
        )
    )
    simsym = T.materialize(
        half.unionByName(
            half.select(
                F.col("v2").alias("v1"), F.col("v1").alias("v2"), "sim_u"
            )
        )
    )
    cand.createOrReplaceTempView("mmr_cand")
    simsym.createOrReplaceTempView("mmr_sims")
    return spark.sql("WITH " + _mmr_tail("mmr_cand", "mmr_sims"))


# --- out-of-distribution screening by centroid distance --------------------

def _ood_tail(dd: str) -> str:
    """Shared text over dd(vec_id, label, d_u): per-label lower-median +
    MAD rank picks (total order, no float averaging), robust threshold
    med + 3*1.4826*MAD evaluated once per label on exact integers, then
    one counting pass."""
    return (
        f"mr AS (SELECT label, d_u AS med_u FROM ("
        "SELECT label, d_u, ROW_NUMBER() OVER (PARTITION BY label "
        "ORDER BY d_u, vec_id) AS rn, "
        f"COUNT(*) OVER (PARTITION BY label) AS n FROM {dd}) t "
        "WHERE rn = CAST(floor((n + 1) / 2.0e0) AS BIGINT)), "
        f"dev AS (SELECT d.label, d.vec_id, d.d_u, "
        f"ABS(d.d_u - m.med_u) AS du FROM {dd} d "
        "JOIN mr m ON d.label = m.label), "
        "md AS (SELECT label, du AS mad_u FROM ("
        "SELECT label, du, ROW_NUMBER() OVER (PARTITION BY label "
        "ORDER BY du, vec_id) AS rn, "
        "COUNT(*) OVER (PARTITION BY label) AS n FROM dev) t "
        "WHERE rn = CAST(floor((n + 1) / 2.0e0) AS BIGINT)), "
        "thr AS (SELECT mr.label, mr.med_u, md.mad_u, "
        "CAST(ROUND(mr.med_u + 4.4478e0 * md.mad_u) AS BIGINT) AS thr_u "
        "FROM mr JOIN md ON mr.label = md.label) "
        f"SELECT d.label, COUNT(*) AS n_vectors, "
        "CAST(SUM(CASE WHEN d.d_u > t.thr_u THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_ood, "
        "CAST(t.med_u AS DOUBLE) / 1.0e6 AS median_sqdist, "
        "CAST(t.mad_u AS DOUBLE) / 1.0e6 AS mad_sqdist, "
        "CAST(t.thr_u AS DOUBLE) / 1.0e6 AS threshold_sqdist "
        f"FROM {dd} d JOIN thr t ON d.label = t.label "
        "GROUP BY d.label, t.med_u, t.mad_u, t.thr_u"
    )


_OOD_ORACLE = (
    "WITH ex AS (SELECT label, "
    "unnest(generate_series(0, len(embedding) - 1)) AS dim, "
    "CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1.0e6) AS BIGINT)"
    " AS x_u FROM embeddings), "
    "c AS (SELECT label, dim, SUM(x_u) AS s_u, COUNT(*) AS n "
    "FROM ex GROUP BY label, dim), "
    "v AS (SELECT vec_id, label, "
    "unnest(generate_series(0, len(embedding) - 1)) AS dim, "
    "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings), "
    "dd AS (SELECT v.vec_id, v.label, CAST(ROUND(SUM("
    "(v.x - CAST(c.s_u AS DOUBLE) / (1.0e6 * c.n)) * "
    "(v.x - CAST(c.s_u AS DOUBLE) / (1.0e6 * c.n))) * 1.0e6) AS BIGINT)"
    " AS d_u FROM v JOIN c ON v.dim = c.dim AND v.label = c.label "
    "GROUP BY v.vec_id, v.label), "
    + _ood_tail("dd")
)


@query("embed_ood_distance", oracle=_OOD_ORACLE)
def embed_ood_distance(spark, sf_dir):
    """Out-of-distribution screen: per-label robust gate on squared
    distance to the OWN label centroid (median + 3*1.4826*MAD) and the
    count of vectors beyond it — the mislabeled/contaminated-embedding
    detector run before trusting labels as an IVF router or training
    signal. Same broadcast-centroid in-row distance as the silhouette
    (zero corpus-side shuffles to score every vector); medians are
    deterministic per-label rank picks over the integer micro-unit
    distances. Completes the embedding-quality suite: norms
    (embed_norm_stats), drift (embed_centroid_drift), cohesion
    (embed_silhouette_labels), outliers (here)."""
    emb = _emb(spark, sf_dir)
    cent_long = (
        emb.select("label", F.posexplode("embedding").alias("dim", "xf"))
        .select(
            "label",
            "dim",
            F.expr(
                "CAST(ROUND(CAST(xf AS DOUBLE) * 1.0e6) AS BIGINT)"
            ).alias("x_u"),
        )
        .groupBy("label", "dim")
        .agg(F.sum("x_u").alias("s_u"), F.count(F.lit(1)).alias("n"))
    )
    carr = cent_long.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, "
            "CAST(s_u AS DOUBLE) / (1.0e6 * n) AS cd))), s -> s.cd)"
        ).alias("carr")
    )
    cents = carr.agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("label").alias("clabel"), F.col("carr"))
            )
        ).alias("cents")
    )
    dist = _L2U.format(a="embedding", b="c.carr")
    # materialized: the rank-pick tail references dd several ways
    # (median, MAD, gate counts) and re-derivation would repeat the
    # centroid build + corpus scan per reference (4x embeddings reads,
    # round-7 scan audit)
    dd = T.materialize(
        emb.join(F.broadcast(cents)).select(
            "vec_id",
            "label",
            F.expr(
                "filter(transform(cents, c -> struct("
                + dist
                + " AS d_u, c.clabel AS clabel)), x -> x.clabel = label)"
                "[0].d_u"
            ).alias("d_u"),
        )
    )
    dd.createOrReplaceTempView("ood_dd")
    return spark.sql("WITH " + _ood_tail("ood_dd"))


# --- per-dimension variance spectrum ---------------------------------------

_SPEC_ORACLE = (
    "WITH ex AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim, "
    "CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1.0e6) AS BIGINT)"
    " AS x_u FROM embeddings), "
    "m AS (SELECT dim, COUNT(*) AS n, SUM(x_u) AS sx, "
    "SUM(x_u * x_u) AS sxx FROM ex GROUP BY dim), "
    # NULLIF guards: a 1-vector corpus zeroes (n-1); an all-constant
    # space zeroes total variance (share undefined) — NULL, not a throw
    "v AS (SELECT dim, (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx "
    "/ n) / NULLIF((n - 1) * 1.0e12, 0.0e0) AS var FROM m), "
    "u AS (SELECT dim, CAST(ROUND(var * 1.0e9) AS BIGINT) AS v_u FROM v) "
    "SELECT dim, CAST(v_u AS DOUBLE) / 1.0e9 AS variance, "
    + rnd(
        "CAST(v_u AS DOUBLE) / NULLIF((SELECT SUM(v_u) FROM u), 0)", 6
    )
    + " AS variance_share FROM u ORDER BY v_u DESC, dim LIMIT 8"
)


@query("embed_dim_variance_spectrum", oracle=_SPEC_ORACLE)
def embed_dim_variance_spectrum(spark, sf_dir):
    """Per-dimension variance spectrum of the embedding space: the
    top-8 dimensions by exact-integer sample variance with their share
    of total variance — the poor-man's eigenspectrum read before
    paying for PCA (embed_power_iteration_pc1): a spectrum dominated
    by a few raw dimensions means the space is axis-aligned
    compressible and an 8x PQ/JL reduction is nearly free. One
    posexplode + dims-cardinality aggregate; variances snap to
    nano-units before the share division and the top-k heap."""
    emb = _emb(spark, sf_dir)
    m = (
        emb.select(F.posexplode("embedding").alias("dim", "xf"))
        .select(
            "dim",
            F.expr(
                "CAST(ROUND(CAST(xf AS DOUBLE) * 1.0e6) AS BIGINT)"
            ).alias("x_u"),
        )
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x_u").alias("sx"),
            F.sum(F.expr("x_u * x_u")).alias("sxx"),
        )
    )
    u = T.materialize(
        m.select(
            "dim",
            F.expr(
                "CAST(ROUND((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) "
                "* sx / n) / NULLIF((n - 1) * 1.0e12, 0.0e0) * 1.0e9) "
                "AS BIGINT)"
            ).alias("v_u"),
        )
    )
    tot = u.agg(F.sum("v_u").alias("tv"))
    return (
        u.join(F.broadcast(tot))
        .select(
            "dim",
            F.expr("CAST(v_u AS DOUBLE) / 1.0e9").alias("variance"),
            F.expr(rnd("CAST(v_u AS DOUBLE) / tv", 6)).alias(
                "variance_share"
            ),
        )
        .orderBy(F.desc("variance"), "dim")
        .limit(8)
    )


# --- hubness audit (the high-dimensional ANN pathology) --------------------

_HUB_N = 500  # deterministic sample: vec_id < 500
_HUB_K = 5


def _hub_tail(pairs: str, ids: str) -> str:
    """Shared text over pairs(a, b, cos_u) and the id frame: per-query
    top-k by snapped cosine, k-occurrence counts (zeros included via
    the left join), exact-moment skewness of the k-occurrence
    distribution."""
    return (
        f"rk AS (SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a "
        f"ORDER BY cos_u DESC, b) AS r FROM {pairs}), "
        f"occ AS (SELECT b, COUNT(*) AS k_occ FROM rk WHERE r <= {_HUB_K} "
        "GROUP BY b), "
        f"full_k AS (SELECT i.vec_id, COALESCE(occ.k_occ, 0) AS k "
        f"FROM {ids} i LEFT JOIN occ ON occ.b = i.vec_id), "
        "m AS (SELECT COUNT(*) AS n, SUM(k) AS s1, SUM(k * k) AS s2, "
        "SUM(k * k * k) AS s3, MAX(k) AS mx, "
        "SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS zeros FROM full_k), "
        "d AS (SELECT n, mx, zeros, CAST(s1 AS DOUBLE) / n AS mu, "
        "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n AS v, "
        "CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d, "
        "CAST(s3 AS DOUBLE) AS s3d FROM m) "
        "SELECT CAST(n AS BIGINT) AS n_vectors, "
        "CAST(mx AS BIGINT) AS max_k_occurrence, "
        "CAST(zeros AS BIGINT) AS n_antihubs, "
        + rnd(
            "((s3d - 3.0e0 * mu * s2d + 2.0e0 * n * mu * mu * mu) / n)"
            " / (v * SQRT(v))",
            6,
        )
        + " AS k_occurrence_skewness FROM d"
    )


_HUB_ORACLE = (
    "WITH ids AS (SELECT vec_id, embedding FROM embeddings "
    f"WHERE vec_id < {_HUB_N}), "
    "z AS (SELECT a.vec_id AS a, b.vec_id AS b, "
    "CAST(unnest(a.embedding) AS DOUBLE) AS x, "
    "CAST(unnest(b.embedding) AS DOUBLE) AS y "
    "FROM ids a JOIN ids b ON a.vec_id <> b.vec_id), "
    "dp AS (SELECT a, b, SUM(x * y) AS dot, SUM(x * x) AS n2, "
    "SUM(y * y) AS m2 FROM z GROUP BY a, b), "
    "pairs AS (SELECT a, b, "
    "CAST(ROUND(dot / (SQRT(n2) * SQRT(m2)) * 1.0e6) AS BIGINT)"
    " AS cos_u FROM dp), "
    + _hub_tail("pairs", "(SELECT vec_id FROM ids) ")
)


@query("embed_hubness_audit", oracle=_HUB_ORACLE)
def embed_hubness_audit(spark, sf_dir):
    """Hubness audit — the defining high-dimensional pathology for ANN:
    on a deterministic 500-vector sample, each vector's k-occurrence
    (how often it lands in other vectors' exact cosine top-5), reported
    as max, anti-hub count (never retrieved), and the k-occurrence
    skewness from exact integer moments. Rising skewness with dimension
    means a few hubs dominate result lists and recall math degrades —
    measured here BEFORE trusting IVF/LSH routes tuned on uniform
    assumptions. The all-pairs step is sample^2 by construction (never
    corpus^2); micro-snapped cosines make every top-5 deterministic."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < _HUB_N)
    ids = T.materialize(emb.select("vec_id", "embedding"))
    a = ids.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    b = ids.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    pairs = (
        a.join(F.broadcast(b), F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.expr(
                "CAST(ROUND("
                + _DOT.format(a="ea", b="eb")
                + " / (SQRT(" + _DOT.format(a="ea", b="ea")
                + ") * SQRT(" + _DOT.format(a="eb", b="eb")
                + ")) * 1.0e6) AS BIGINT)"
            ).alias("cos_u"),
        )
    )
    pairs.createOrReplaceTempView("hub_pairs")
    ids.select("vec_id").createOrReplaceTempView("hub_ids")
    return spark.sql(
        "WITH " + _hub_tail("hub_pairs", "hub_ids")
    )


# --- distance concentration audit ------------------------------------------

_DC_N = 500  # same deterministic sample as the hubness audit


_DC_ORACLE = (
    "WITH ids AS (SELECT vec_id, embedding FROM embeddings "
    f"WHERE vec_id < {_DC_N}), "
    "z AS (SELECT a.vec_id AS a, b.vec_id AS b, "
    "CAST(unnest(a.embedding) AS DOUBLE) AS x, "
    "CAST(unnest(b.embedding) AS DOUBLE) AS y "
    "FROM ids a JOIN ids b ON a.vec_id < b.vec_id), "
    "dp AS (SELECT a, b, CAST(ROUND(SUM((x - y) * (x - y)) * 1.0e6) "
    "AS BIGINT) AS d_u FROM z GROUP BY a, b), "
    "m AS (SELECT COUNT(*) AS n, SUM(d_u) AS s1, "
    "SUM(CAST(d_u AS DECIMAL(38,0)) * d_u) AS s2, "
    "MIN(d_u) AS mn, MAX(d_u) AS mx FROM dp) "
    "SELECT CAST(n AS BIGINT) AS n_pairs, "
    + rnd("CAST(s1 AS DOUBLE) / (1.0e6 * n)", 4) + " AS mean_sqdist, "
    + rnd(
        "SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) "
        "/ (n - 1)) / NULLIF(CAST(s1 AS DOUBLE) / n, 0.0e0)",
        6,
    )
    + " AS dist_cv, "
    + rnd("(CAST(mx AS DOUBLE) - mn) / NULLIF(CAST(mn AS DOUBLE), 0.0e0)", 6)
    + " AS relative_contrast FROM m"
)


@query("embed_distance_concentration", oracle=_DC_ORACLE)
def embed_distance_concentration(spark, sf_dir):
    """Distance-concentration audit — the other classic high-dimension
    pathology next to hubness: as dimension grows, pairwise distances
    concentrate (CV of distances falls, relative contrast
    (dmax-dmin)/dmin collapses) and nearest-neighbor distinctions stop
    meaning anything. Measured on the same deterministic 500-vector
    sample as embed_hubness_audit: micro-snapped squared L2 per pair,
    exact DECIMAL moment sums, three closing ratios. If dist_cv is
    tiny, no ANN index tuning will rescue retrieval — re-embed with a
    better model instead; this number says so before that money is
    spent."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < _DC_N)
    ids = T.materialize(emb.select("vec_id", "embedding"))
    a = ids.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    b = ids.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    sq = (
        "aggregate(zip_with(ea, eb, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "0.0e0, (acc, v) -> acc + v)"
    )
    dp = a.join(F.broadcast(b), F.col("a") < F.col("b")).select(
        F.expr(f"CAST(ROUND({sq} * 1.0e6) AS BIGINT)").alias("d_u")
    )
    m = dp.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d_u").alias("s1"),
        F.sum(F.expr("CAST(d_u AS DECIMAL(38,0)) * d_u")).alias("s2"),
        F.min("d_u").alias("mn"),
        F.max("d_u").alias("mx"),
    )
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n_pairs",
        rnd("CAST(s1 AS DOUBLE) / (1.0e6 * n)", 4) + " AS mean_sqdist",
        rnd(
            "SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) "
            "/ (n - 1)) / NULLIF(CAST(s1 AS DOUBLE) / n, 0.0e0)",
            6,
        )
        + " AS dist_cv",
        rnd("(CAST(mx AS DOUBLE) - mn) / NULLIF(CAST(mn AS DOUBLE), 0.0e0)", 6)
        + " AS relative_contrast",
    )


# --- int8 scalar quantization (SQ8) error audit ----------------------------

_SQ_DIM = 64  # embedding dimensionality (matches _PQ_M * _PQ_DSUB)

#: per-element quantized-reconstruction squared error in integer
#: nano-units. `mn`/`mx`/`xd` are doubles; the code value is
#: ROUND((x-mn)/(mx-mn)*255) kept as an integral DOUBLE so the identical
#: expression TEXT runs on Spark and DuckDB (scale-0 ROUND ties-away
#: matches in both engines; IEEE - / * are bit-deterministic, so the
#: code and the reconstruction are identical doubles everywhere).
def _sq8_rec(xd: str, mn: str, mx: str) -> str:
    """Reconstruction of one quantized component, as a double."""
    qd = (
        f"CASE WHEN {mx} > {mn} THEN "
        f"ROUND(({xd} - {mn}) / ({mx} - {mn}) * 255.0e0) "
        "ELSE 0.0e0 END"
    )
    return f"({mn} + (({qd}) / 255.0e0) * ({mx} - {mn}))"


def _sq8_term(xd: str, mn: str, mx: str) -> str:
    rec = _sq8_rec(xd, mn, mx)
    return f"CAST(ROUND(({xd} - {rec}) * ({xd} - {rec}) * 1.0e9) AS BIGINT)"


_SQ8_ORACLE = (
    "WITH z AS (SELECT vec_id, label, "
    "generate_subscripts(embedding, 1) AS d, "
    "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings), "
    "st AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM z GROUP BY d), "
    "e AS (SELECT vec_id, label, "
    + _sq8_term("x", "mn", "mx")
    + " AS e_u FROM z JOIN st USING (d)), "
    "pv AS (SELECT vec_id, label, SUM(e_u) AS sse_u, COUNT(*) AS nd "
    "FROM e GROUP BY vec_id, label), "
    "pm AS (SELECT label, sse_u, nd, "
    + rnd("CAST(sse_u AS DOUBLE) / (1.0e9 * nd)", 6)
    + " AS v_mse FROM pv) "
    "SELECT label, COUNT(*) AS n_vecs, "
    + rnd(
        "CAST(SUM(sse_u) AS DOUBLE) / (1.0e9 * CAST(SUM(nd) AS DOUBLE))",
        6,
    )
    + " AS mse, MAX(v_mse) AS worst_vec_mse FROM pm GROUP BY label"
)


@query("embed_sq8_quantize", oracle=_SQ8_ORACLE)
def embed_sq8_quantize(spark, sf_dir):
    """INT8 scalar quantization (SQ8) error audit — the serving-side
    compression every vector store offers (4x smaller than float32,
    cheaper SIMD distance): per-DIMENSION min/max over the corpus
    define a 256-level uniform grid; each component rounds to its code
    and the audit reports per-label reconstruction MSE plus the worst
    single vector. This is the go/no-go number before switching ANN
    serving to int8 (compare against embed_pq_encode's 8-byte codes:
    SQ8 trades 8x more space for much lower distortion).

    Scale shape: the per-dim ranges are ONE map-side-combined aggregate
    producing a single 2x64-value row (no explode — the n x 64 row
    expansion the textbook build shuffles never exists); that row
    broadcasts back and encode/error is a fully in-row fold, so the
    only other exchange is the label-cardinality summary. Per-element
    errors snap to integer nano-units (e_u), making every cross-row sum
    exact; the oracle recomputes via the explode path — a genuinely
    different plan that must agree bit-for-bit."""
    emb = _emb(spark, sf_dir)
    stats = emb.agg(
        F.array(
            *[
                F.min(F.expr(f"CAST(element_at(embedding, {i}) AS DOUBLE)"))
                for i in range(1, _SQ_DIM + 1)
            ]
        ).alias("mns"),
        F.array(
            *[
                F.max(F.expr(f"CAST(element_at(embedding, {i}) AS DOUBLE)"))
                for i in range(1, _SQ_DIM + 1)
            ]
        ).alias("mxs"),
    )
    term = _sq8_term(
        "CAST(x AS DOUBLE)", "element_at(mns, i)", "element_at(mxs, i)"
    )
    sse = (
        "aggregate(zip_with(embedding, sequence(1, size(embedding)), "
        f"(x, i) -> {term}), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    pv = emb.crossJoin(F.broadcast(stats)).select(
        "label",
        F.expr(sse).alias("sse_u"),
        F.size("embedding").cast("bigint").alias("nd"),
    )
    pm = pv.select(
        "label",
        "sse_u",
        "nd",
        F.expr(rnd("CAST(sse_u AS DOUBLE) / (1.0e9 * nd)", 6)).alias(
            "v_mse"
        ),
    )
    return pm.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.expr(
            rnd(
                "CAST(SUM(sse_u) AS DOUBLE) / "
                "(1.0e9 * CAST(SUM(nd) AS DOUBLE))",
                6,
            )
        ).alias("mse"),
        F.max("v_mse").alias("worst_vec_mse"),
    )


# --- SQ8 retrieval-impact audit (recall vs exact top-10) -------------------

#: quantized-then-snapped component in integer micro-units: the
#: reconstruction double is IEEE-identical in both engines (see
#: _sq8_rec), and snapping it to 1e-6 BEFORE any cross-component sum
#: makes every dot product / norm below EXACT INTEGER arithmetic —
#: order-insensitive, so the oracle may sum via unnest while Spark
#: folds in-row.
def _sq8_rec_u(xd: str, mn: str, mx: str) -> str:
    return f"CAST(ROUND({_sq8_rec(xd, mn, mx)} * 1.0e6) AS BIGINT)"


def _sq8_recall_oracle() -> str:
    from ..registry import ORACLES

    return (
        "WITH z AS (SELECT vec_id, "
        "generate_subscripts(embedding, 1) AS d, "
        "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings), "
        "st AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM z GROUP BY d), "
        "r AS (SELECT vec_id, z.d, "
        + _sq8_rec_u("x", "mn", "mx")
        + " AS ru FROM z JOIN st USING (d)), "
        "qr AS (SELECT d, ru FROM r WHERE vec_id = 0), "
        "q2 AS (SELECT SUM(ru * ru) AS q2_u FROM qr), "
        "c AS (SELECT r.vec_id, SUM(r.ru * qr.ru) AS dot_u, "
        "SUM(r.ru * r.ru) AS n2_u FROM r JOIN qr USING (d) "
        "WHERE r.vec_id <> 0 GROUP BY r.vec_id), "
        "sc AS (SELECT vec_id, CAST(ROUND(CAST(dot_u AS DOUBLE) / "
        "(SQRT(CAST(n2_u AS DOUBLE)) * SQRT(CAST(q2_u AS DOUBLE))) "
        "* 1.0e6) AS BIGINT) AS cos_u FROM c, q2), "
        "sq10 AS (SELECT vec_id FROM sc ORDER BY cos_u DESC, vec_id "
        "LIMIT 10), "
        "ex10 AS (SELECT vec_id FROM ("
        + ORACLES["embed_knn_bruteforce"]
        + ")) "
        "SELECT 10 AS k, CAST(COUNT(*) AS BIGINT) AS n_overlap, "
        + rnd("CAST(COUNT(*) AS DOUBLE) / 10.0e0", 4)
        + " AS recall FROM sq10 JOIN ex10 USING (vec_id)"
    )


@query("embed_sq8_recall", oracle=_sq8_recall_oracle())
def embed_sq8_recall(spark, sf_dir):
    """The OTHER half of the SQ8 go/no-go decision (embed_sq8_quantize
    measures distortion; this measures what distortion DOES to
    retrieval): cosine top-10 for query vec 0 computed entirely in the
    quantized-reconstructed space, overlapped against the exact float
    top-10 (embed_knn_bruteforce's frame, reused verbatim) — recall@10
    of int8 serving. Ship SQ8 when this stays at 1.0; the PQ family's
    ADC search is the fallback comparison when it doesn't.

    Scale shape: the per-dim grid is the same ONE broadcast stats row;
    reconstructed components snap to integer micro-units IN-ROW, so
    every dot/norm is exact integer arithmetic (fold order cannot
    matter — Spark folds in-row, the oracle sums an unnest, and both
    are exact); corpus side never shuffles until the 10-row heap."""
    emb = _emb(spark, sf_dir)
    stats = emb.agg(
        F.array(
            *[
                F.min(F.expr(f"CAST(element_at(embedding, {i}) AS DOUBLE)"))
                for i in range(1, _SQ_DIM + 1)
            ]
        ).alias("mns"),
        F.array(
            *[
                F.max(F.expr(f"CAST(element_at(embedding, {i}) AS DOUBLE)"))
                for i in range(1, _SQ_DIM + 1)
            ]
        ).alias("mxs"),
    )
    ru_term = _sq8_rec_u(
        "CAST(element_at(embedding, i) AS DOUBLE)",
        "element_at(mns, i)",
        "element_at(mxs, i)",
    )
    # materialized: the query row and the corpus scoring pass both
    # reference this frame, and CTE-style re-derivation would re-scan
    # the embeddings parquet (and recompute the stats row) per
    # reference — 5x reads in the round-7 scan audit
    recs = T.materialize(
        emb.crossJoin(F.broadcast(stats)).select(
            "vec_id",
            F.expr(
                f"transform(sequence(1, size(embedding)), i -> {ru_term})"
            ).alias("ru"),
        )
    )
    q = recs.filter(F.col("vec_id") == 0).select(F.col("ru").alias("qu"))
    idot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    sc = (
        recs.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.expr(idot.format(a="ru", b="qu")).alias("dot_u"),
            F.expr(idot.format(a="ru", b="ru")).alias("n2_u"),
            F.expr(idot.format(a="qu", b="qu")).alias("q2_u"),
        )
        .select(
            "vec_id",
            F.expr(
                "CAST(ROUND(CAST(dot_u AS DOUBLE) / "
                "(SQRT(CAST(n2_u AS DOUBLE)) * SQRT(CAST(q2_u AS DOUBLE)))"
                " * 1.0e6) AS BIGINT)"
            ).alias("cos_u"),
        )
    )
    sq10 = sc.orderBy(F.desc("cos_u"), F.asc("vec_id")).limit(10)
    from ..registry import QUERIES

    ex10 = QUERIES["embed_knn_bruteforce"](spark, sf_dir).select("vec_id")
    return (
        sq10.select("vec_id")
        .join(ex10, "vec_id")
        .agg(
            F.lit(10).alias("k"),
            F.count(F.lit(1)).alias("n_overlap"),
            F.expr(rnd("CAST(COUNT(1) AS DOUBLE) / 10.0e0", 4)).alias(
                "recall"
            ),
        )
    )


# --- Matryoshka-style dimension-truncation recall curve --------------------

_MRL_DIMS = (8, 16, 32)


def _mrl_oracle() -> str:
    from ..registry import ORACLES

    blocks = []
    for k in _MRL_DIMS:
        blocks.append(
            f"SELECT {k} AS trunc_dims, "
            "CAST(COUNT(*) AS BIGINT) AS n_overlap, "
            + rnd("CAST(COUNT(*) AS DOUBLE) / 10.0e0", 4)
            + " AS recall FROM ("
            "SELECT vec_id FROM ("
            "SELECT vec_id, "
            + rnd("dot / (SQRT(n2) * SQRT(q2))", 6)
            + " AS cosine FROM ("
            "SELECT vec_id, SUM(x * y) AS dot, SUM(x * x) AS n2, "
            "SUM(y * y) AS q2 FROM ("
            "SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, "
            "CAST(unnest(qe) AS DOUBLE) AS y, "
            "generate_subscripts(embedding, 1) AS d "
            "FROM embeddings, (SELECT embedding AS qe FROM embeddings "
            "WHERE vec_id = 0) WHERE vec_id <> 0"
            f") WHERE d <= {k} GROUP BY vec_id)) "
            "ORDER BY cosine DESC, vec_id LIMIT 10) t "
            "JOIN (SELECT vec_id FROM ("
            + ORACLES["embed_knn_bruteforce"]
            + ")) e USING (vec_id)"
        )
    return " UNION ALL ".join(blocks)


@query("embed_matryoshka_recall", oracle=_mrl_oracle())
def embed_matryoshka_recall(spark, sf_dir):
    """Dimension-truncation recall curve (the Matryoshka/MRL serving
    question, Kusupati et al. 2022): cosine top-10 for query vec 0
    using only the first 8 / 16 / 32 dimensions, overlapped against the
    full-64-dim exact top-10 — recall@10 per dimension budget. With
    MRL-trained embeddings this curve stays near 1.0 and prices an
    8x cheaper first-stage retrieval; with ordinary embeddings (these
    fixtures) it QUANTIFIES how much a naive prefix truncation loses —
    either answer is the number the serving decision needs, next to
    SQ8 (precision budget) and PQ (code budget).

    Scale shape: ONE narrow corpus pass computes all three prefix
    cosines AND the full-dim exact cosine in-row (in-row folds over
    the array PREFIX — `slice` never copies more than k elements),
    the scored 5-column frame is materialized, and each budget's
    10-row TakeOrdered heap — including the exact baseline's — reads
    the persisted frame (the previous per-budget loop re-scanned the
    corpus parquet once per budget — 5x embeddings reads, round-7
    scan audit; round-8's physical-bytes audit then caught the exact
    baseline still re-running embed_knn_bruteforce's plan, a second
    full parquet pass — the full cosine is the identical expression,
    so it now rides the same scan). No shuffle touches the corpus at
    any budget."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )

    def _cos(k: int) -> str:
        dot = _DOT.format(
            a=f"slice(embedding, 1, {k})", b=f"slice(qe, 1, {k})"
        )
        n2 = _DOT.format(
            a=f"slice(embedding, 1, {k})", b=f"slice(embedding, 1, {k})"
        )
        q2 = _DOT.format(a=f"slice(qe, 1, {k})", b=f"slice(qe, 1, {k})")
        return rnd(f"({dot}) / (SQRT({n2}) * SQRT({q2}))", 6)

    # the exact baseline: embed_knn_bruteforce's cosine expression
    # verbatim (same fold over the FULL array, same snap), computed on
    # the same pass instead of re-running that query's scan
    full = rnd(
        f"({_DOT.format(a='embedding', b='qe')}) / "
        f"(SQRT({_DOT.format(a='embedding', b='embedding')}) * "
        f"SQRT({_DOT.format(a='qe', b='qe')}))",
        6,
    )
    scored = T.materialize(
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            *(F.expr(_cos(k)).alias(f"cos{k}") for k in _MRL_DIMS),
            F.expr(full).alias("cos_full"),
        )
    )
    ex10 = (
        scored.select("vec_id", F.col("cos_full").alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    out = None
    for k in _MRL_DIMS:
        top = (
            scored.select("vec_id", F.col(f"cos{k}").alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(10)
        )
        m = top.select("vec_id").join(ex10, "vec_id").agg(
            F.lit(k).alias("trunc_dims"),
            F.count(F.lit(1)).alias("n_overlap"),
            F.expr(rnd("CAST(COUNT(1) AS DOUBLE) / 10.0e0", 4)).alias(
                "recall"
            ),
        )
        out = m if out is None else out.unionByName(m)
    return out


# --- NN-descent kNN-graph construction ------------------------------------
# Dong, Charikar & Li, WWW 2011 ("Efficient K-Nearest Neighbor Graph
# Construction for Generic Similarity Measures"): seed a cheap
# locality-aware graph, then refine by scoring each node against its
# neighbors' neighbors. Each round costs O(K^2 n) pair evaluations
# instead of the O(n^2) exact graph; this is how production kNN-graph /
# HNSW base layers are built at corpus scale.
#
# The init MUST come from more than one hash table: a single LSH
# bucketing is an equivalence relation, so neighbors-of-neighbors can
# never leave the bucket and the descent round is a no-op by
# construction. Two independent 8-plane tables break transitivity —
# the round reaches "bucket-mate (table 1) of a bucket-mate (table 2)",
# which is exactly the expansion NN-descent exploits.
_NND_K = 5        # graph degree
_NND_BSZ = 10     # target init-bucket size per table (B = n / this)
_NND_MAXB = 256   # each table has 2^8 raw sign buckets; reduce mod B
_NND_SMP = 25     # exact-recall audit samples 1-in-25 nodes
_NND_TABLES = 2   # independent LSH tables seeding the init graph

_NND_B_DUCK = (
    "(SELECT CAST(LEAST(" + str(_NND_MAXB) + ", GREATEST(1, "
    f"FLOOR(COUNT(*) / {_NND_BSZ}.0e0))) AS BIGINT) FROM embeddings)"
)

# rounded cosine from a pair dot + the two joined norms — the rank key
# both engines sort by (raw doubles could differ in the last ulp across
# fold orders; the 6-digit round + vec_id tie-break pins the edge sets)
_NND_COS = rnd("s.dot / (SQRT(nu.n2) * SQRT(nv.n2))", 6)


def sign_bucket_range_sql(start: int, count: int) -> str:
    """sign_bucket_sql generalized to planes [start, start+count): each
    independent LSH table uses a disjoint slice of the shared
    exact-rational hyperplane family w(j, d)."""
    terms = []
    for k in range(count):
        j = start + k
        w = (
            f"(CAST((({j} * 73 + d * 37) * 2654435761) % 1000003 AS DOUBLE)"
            " / 1000003.0e0 - 0.5e0)"
        )
        dot = (
            "aggregate(transform(embedding, (x, d) -> "
            f"CAST(x AS DOUBLE) * {w}), 0.0e0, (acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN {dot} > 0.0e0 THEN {1 << k} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _mat_ctes(sql: str, names: tuple[str, ...]) -> str:
    """Mark the named CTEs MATERIALIZED: DuckDB 1.0 inlines plain CTEs
    per reference, so a six-times-referenced `z` re-unnests the whole
    embedding table six times and the correlated audit subqueries
    re-derive e0/cand/ex per sampled row — the round-9 sf1-shape
    budget analysis. Only ever mark CTEs the query actually references
    (DuckDB EXECUTES unreferenced materialized CTEs)."""
    for n in names:
        sql = sql.replace(f"{n} AS (", f"{n} AS MATERIALIZED (", 1)
    return sql


def _nnd_score_duck(pairs: str, tag: str) -> str:
    """DuckDB CTE pair: score `pairs`(u,v) by summed per-dim products,
    then rank per u by rounded cosine."""
    return (
        f"sc{tag} AS (SELECT p.u, p.v, SUM(za.x * zb.x) AS dot "
        f"FROM {pairs} p JOIN z za ON za.vec_id = p.u "
        "JOIN z zb ON zb.vec_id = p.v AND zb.d = za.d "
        "GROUP BY p.u, p.v), "
        f"r{tag} AS (SELECT s.u, s.v, ROW_NUMBER() OVER ("
        f"PARTITION BY s.u ORDER BY {_NND_COS} DESC, s.v) AS rk "
        f"FROM sc{tag} s JOIN nrm nu ON nu.vec_id = s.u "
        "JOIN nrm nv ON nv.vec_id = s.v), "
        f"e{tag} AS (SELECT u, v FROM r{tag} WHERE rk <= {_NND_K})"
    )


def _nnd_count_duck(src: str, alias: str) -> str:
    return (
        f"CAST(COALESCE((SELECT COUNT(*) FROM {src} "
        f"WHERE {src}.u = smp.vec_id), 0) AS BIGINT) AS {alias}"
    )


def _nnd_hits_duck(edges: str) -> str:
    return (
        f"COALESCE((SELECT COUNT(*) FROM {edges} JOIN ex "
        f"ON ex.u = {edges}.u AND ex.v = {edges}.v "
        f"WHERE {edges}.u = smp.vec_id), 0)"
    )


def _nnd_bk_duck(t: int) -> str:
    """Bucket CTE for LSH table t (planes [8t, 8t+8) -> bits 0..7)."""
    lo, hi = 8 * t, 8 * t + 8
    return (
        f"bk{t} AS (SELECT vec_id, SUM(CASE WHEN dot > 0.0e0 THEN "
        f"(1 << (j - {lo})) ELSE 0 END) % {_NND_B_DUCK} AS b "
        f"FROM proj WHERE j >= {lo} AND j < {hi} GROUP BY vec_id)"
    )


def _init_knn_edges(emb, nrm, n):
    """Directed K-degree LSH-seeded kNN graph — the init stage (e0) of
    embed_nndescent_knn, factored out because embed_graph_search_recall
    walks EXACTLY this graph (shared code, so the search leg provably
    serves the graph the build leg made). Two independent 8-plane
    sign-bucket tables (bucket count n/10), pairs scored IN-ROW off the
    bucket self-join (both arrays already present — no array re-join),
    the two tables' overlap folded with one max(dot) agg (a no-op on
    the duplicate — same pair, same dot — but one shuffle instead of a
    distinct plus two joins), then rounded-cosine top-K per node with a
    vec_id tie-break so both engines materialize identical edges."""
    n_b = max(1, min(_NND_MAXB, n // _NND_BSZ))
    bkt = T.materialize(
        emb.select(
            "vec_id",
            "embedding",
            *[
                (F.expr(sign_bucket_range_sql(8 * t, 8)) % n_b).alias(
                    f"b{t}"
                )
                for t in range(_NND_TABLES)
            ],
        )
    )
    p0 = None
    for t in range(_NND_TABLES):
        a = bkt.alias("a")
        c = bkt.alias("c")
        pt = a.join(
            c,
            (F.col(f"c.b{t}") == F.col(f"a.b{t}"))
            & (F.col("c.vec_id") != F.col("a.vec_id")),
        ).select(
            F.col("a.vec_id").alias("u"),
            F.col("c.vec_id").alias("v"),
            F.expr(
                _DOT.format(a="a.embedding", b="c.embedding")
            ).alias("dot"),
        )
        p0 = pt if p0 is None else p0.unionByName(pt)
    nu = nrm.select(F.col("vec_id").alias("u"), F.col("n2").alias("n2u"))
    nv = nrm.select(F.col("vec_id").alias("v"), F.col("n2").alias("n2v"))
    scored = (
        p0.groupBy("u", "v")
        .agg(F.max("dot").alias("dot"))
        .join(F.broadcast(nu), "u")
        .join(F.broadcast(nv), "v")
        .select(
            "u",
            "v",
            F.expr(rnd("dot / (SQRT(n2u) * SQRT(n2v))", 6)).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("u").orderBy(F.desc("cosine"), F.asc("v"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _NND_K)
        .select("u", "v")
    )


@query(
    "embed_nndescent_knn",
    oracle=_mat_ctes((
        "WITH z AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, "
        "generate_subscripts(embedding, 1) - 1 AS d FROM embeddings), "
        "nrm AS (SELECT vec_id, SUM(x * x) AS n2 FROM z GROUP BY vec_id), "
        f"proj AS (SELECT vec_id, j, SUM(x * {_W_SQL}) AS dot "
        "FROM z CROSS JOIN (SELECT unnest(range(0, "
        f"{8 * _NND_TABLES})) AS j) GROUP BY vec_id, j), "
        + ", ".join(_nnd_bk_duck(t) for t in range(_NND_TABLES))
        + ", p0 AS ("
        + " UNION ".join(
            f"SELECT a.vec_id AS u, c.vec_id AS v FROM bk{t} a "
            f"JOIN bk{t} c ON c.b = a.b AND c.vec_id <> a.vec_id"
            for t in range(_NND_TABLES)
        )
        + "), "
        + _nnd_score_duck("p0", "0")
        + ", und AS (SELECT u, v FROM e0 "
        "UNION SELECT v AS u, u AS v FROM e0), "
        "nn AS (SELECT g1.u, g2.v FROM und g1 "
        "JOIN und g2 ON g2.u = g1.v AND g2.v <> g1.u), "
        "cand AS (SELECT u, v FROM und UNION SELECT u, v FROM nn), "
        + _nnd_score_duck("cand", "1")
        + ", smp AS (SELECT vec_id FROM embeddings WHERE "
        + T.hashed_id_duck("('smp:' || CAST(vec_id AS VARCHAR))", _NND_SMP)
        + " = 0), "
        "px AS (SELECT s.vec_id AS u, e.vec_id AS v FROM smp s "
        "JOIN embeddings e ON e.vec_id <> s.vec_id), "
        + _nnd_score_duck("px", "x")
        + " SELECT smp.vec_id, "
        + _nnd_count_duck("e0", "n_init")
        + ", "
        + _nnd_count_duck("cand", "n_cand")
        + ", "
        + "CAST(" + _nnd_hits_duck("e0") + " AS BIGINT) AS hits_init, "
        + "CAST(" + _nnd_hits_duck("e1") + " AS BIGINT) AS hits_r1, "
        + rnd(
            "CAST(" + _nnd_hits_duck("e0") + f" AS DOUBLE) / {_NND_K}.0e0",
            4,
        )
        + " AS recall_init, "
        + rnd(
            "CAST(" + _nnd_hits_duck("e1") + f" AS DOUBLE) / {_NND_K}.0e0",
            4,
        )
        + " AS recall_r1 FROM smp"
    ), (
        "z", "nrm", "proj", "bk0", "bk1", "und", "cand", "smp",
        "e0", "e1", "ex",
    )),
)
def embed_nndescent_knn(spark, sf_dir):
    """One NN-descent refinement round over a 2-table sign-LSH-seeded
    kNN graph, with an exact-recall audit on a deterministic 1-in-25
    node sample — the whole thing hash-gated (md5 sample,
    exact-rational hyperplanes, and ranks ordered by ROUNDED cosine
    with a vec_id tie-break, so both engines materialize identical
    edge sets).

    Init: TWO independent 8-plane sign buckets (disjoint slices of the
    shared hyperplane family), each reduced mod B = n/10 so every table
    contributes ~10 co-bucketed candidates per node at any corpus size
    — O(n) init pairs total. One table would be useless: its bucket
    relation is an equivalence, so neighbors-of-neighbors never leave
    the bucket; two tables break transitivity and the descent round
    reaches cross-table 2-hop candidates. The round itself self-joins
    the K-degree undirected edge list — O(K^2 n) pairs. No O(n^2)
    stage exists; the exact truth set is computed only for the sampled
    audit nodes (broadcast sample x corpus — audit-on-a-slice, same
    shape as the sketch family). recall_r1 vs recall_init is the
    measured payoff of the round; production iterates until the gain
    flattens. Measured at sf0.1 (n=2000, 94 audited nodes): recall@5
    0.102 -> 0.115 from ~38 scored candidates per node vs the 1999 the
    exact graph needs — the per-round gain is bounded by this corpus's
    weak angular locality (true top-5 cosines sit near 0.5, where an
    8-plane bucket catches ~5% per table), which is exactly what the
    audit is for. Norms compute ONCE per vector (nrm) and join back,
    so pair scoring is a single 64-dim fold, not three."""
    emb = T.materialize(
        T.spread_small_scan(
            _emb(spark, sf_dir).select("vec_id", "embedding"),
            spark,
            f"{sf_dir}/embeddings.parquet",
        )
    )
    return _nndescent_graph(spark, emb)


def _nndescent_graph(spark, emb):
    """Core of embed_nndescent_knn over an arbitrary materialized
    (vec_id, embedding) frame — shared by the full query and the
    sampled at-scale twin (every size-dependent knob, including the
    init bucket count B = n/10, derives from the frame's own count, so
    the twin is the SAME algorithm at sample cardinality)."""
    n = emb.count()
    nrm = T.materialize(
        emb.select(
            "vec_id",
            F.expr(_DOT.format(a="embedding", b="embedding")).alias("n2"),
        )
    )
    nu = nrm.select(F.col("vec_id").alias("u"), F.col("n2").alias("n2u"))
    nv = nrm.select(F.col("vec_id").alias("v"), F.col("n2").alias("n2v"))

    def topk(pairs_with_dot):
        """(u, v, dot) -> K best (u, v) per u by rounded cosine."""
        scored = (
            pairs_with_dot.join(F.broadcast(nu), "u")
            .join(F.broadcast(nv), "v")
            .select(
                "u",
                "v",
                F.expr(
                    rnd("dot / (SQRT(n2u) * SQRT(n2v))", 6)
                ).alias("cosine"),
            )
        )
        w = Window.partitionBy("u").orderBy(F.desc("cosine"), F.asc("v"))
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _NND_K)
            .select("u", "v")
        )

    eu_arr = emb.select(
        F.col("vec_id").alias("u"), F.col("embedding").alias("eu")
    )
    ev_arr = emb.select(
        F.col("vec_id").alias("v"), F.col("embedding").alias("ev")
    )
    dot_ab = F.expr(_DOT.format(a="eu", b="ev")).alias("dot")

    def with_dot(pair_ids):
        return pair_ids.join(eu_arr, "u").join(ev_arr, "v").select(
            "u", "v", dot_ab
        )

    e0 = T.materialize(_init_knn_edges(emb, nrm, n))

    # no distinct here: a pair present in both directions duplicates a
    # NoN join row, but `cand` dedups once at the end — one shuffle
    # instead of two
    und = e0.unionByName(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nn = (
        und.alias("g1")
        .join(und.alias("g2"), F.col("g2.u") == F.col("g1.v"))
        .filter(F.col("g2.v") != F.col("g1.u"))
        .select(F.col("g1.u").alias("u"), F.col("g2.v").alias("v"))
    )
    cand = T.materialize(und.unionByName(nn).distinct())
    e1 = topk(with_dot(cand))

    smp = emb.filter(
        F.expr(
            T.hashed_id_spark(
                "concat('smp:', CAST(vec_id AS STRING))", _NND_SMP
            )
        )
        == 0
    ).select("vec_id")
    px = (
        emb.crossJoin(
            F.broadcast(
                smp.join(emb, "vec_id").select(
                    F.col("vec_id").alias("u"),
                    F.col("embedding").alias("eu"),
                )
            )
        )
        .filter(F.col("vec_id") != F.col("u"))
        .select(
            "u",
            F.col("vec_id").alias("v"),
            F.expr(_DOT.format(a="eu", b="embedding")).alias("dot"),
        )
    )
    ex = T.materialize(topk(px))

    def per_u(edges, name):
        return (
            edges.groupBy("u")
            .agg(F.count(F.lit(1)).cast("bigint").alias(name))
            .withColumnRenamed("u", "vec_id")
        )

    out = (
        smp.join(per_u(e0, "n_init"), "vec_id", "left")
        .join(per_u(cand, "n_cand"), "vec_id", "left")
        .join(per_u(e0.join(ex, ["u", "v"]), "hits_init"), "vec_id", "left")
        .join(per_u(e1.join(ex, ["u", "v"]), "hits_r1"), "vec_id", "left")
    )
    return out.select(
        "vec_id",
        F.coalesce("n_init", F.lit(0)).cast("bigint").alias("n_init"),
        F.coalesce("n_cand", F.lit(0)).cast("bigint").alias("n_cand"),
        F.coalesce("hits_init", F.lit(0)).cast("bigint").alias("hits_init"),
        F.coalesce("hits_r1", F.lit(0)).cast("bigint").alias("hits_r1"),
        F.expr(
            rnd(f"CAST(COALESCE(hits_init, 0) AS DOUBLE) / {_NND_K}.0e0", 4)
        ).alias("recall_init"),
        F.expr(
            rnd(f"CAST(COALESCE(hits_r1, 0) AS DOUBLE) / {_NND_K}.0e0", 4)
        ).alias("recall_r1"),
    )


#: corpus-sample modulus for the nndescent at-scale twin (~1/4 kept)
_NND_CS = 4


def _nnd_sampled_oracle() -> str:
    from ..registry import ORACLES

    pred = (
        T.hashed_id_duck("('cs:' || CAST(vec_id AS VARCHAR))", _NND_CS)
        + " = 0"
    )
    return T.sampled_table_duck(
        ORACLES["embed_nndescent_knn"], "embeddings", pred
    )


@query("embed_nndescent_knn_sampled", oracle=_nnd_sampled_oracle())
def embed_nndescent_knn_sampled(spark, sf_dir):
    """NN-descent round + exact-recall audit on a deterministic
    1-in-4 key-hash sample of the embedding corpus — the at-scale twin
    of embed_nndescent_knn, whose oracle's exact kNN truth set outgrew
    the sf1-shape sweep budget (the Spark side stayed in bounds; the
    DuckDB audit is what times out at 8k vectors). A 1/4 sample of the
    sf1-shape corpus is exactly the cardinality the full audit already
    passes at sf0.1, so this twin keeps the differential proof alive at
    every scale decade: recall-gain SHAPE (init vs round-1) transfers
    from sample to corpus because every knob — bucket count B = n/10,
    graph degree K, audit sample rate — derives from the frame's own
    count. Salted 'cs:' key hash, disjoint from the 'smp:' audit
    sample, so the two samplings stay independent."""
    base = _emb(spark, sf_dir).select("vec_id", "embedding").filter(
        F.expr(
            T.hashed_id_spark(
                "concat('cs:', CAST(vec_id AS STRING))", _NND_CS
            )
        )
        == 0
    )
    emb = T.materialize(
        T.spread_small_scan(base, spark, f"{sf_dir}/embeddings.parquet")
    )
    return _nndescent_graph(spark, emb)


# --- binary quantization (sign codes + Hamming shortlist + rerank) --------
_BQ_NQ = 8      # query batch: vec_id < 8 (same convention as brute force)
_BQ_K = 10      # final top-k
_BQ_SHORT = 40  # Hamming shortlist = 4x over-fetch before exact rerank

_BQ_LO_SPARK = (
    "aggregate(transform(slice(embedding, 1, 32), (x, d) -> "
    "IF(CAST(x AS DOUBLE) > 0.0e0, shiftleft(CAST(1 AS BIGINT), d), "
    "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, b) -> a + b)"
)
_BQ_HI_SPARK = _BQ_LO_SPARK.replace("slice(embedding, 1, 32)",
                                    "slice(embedding, 33, 32)")


@query(
    "embed_binary_quantize_recall",
    oracle=(
        "WITH z AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, "
        "generate_subscripts(embedding, 1) - 1 AS d FROM embeddings), "
        "nrm AS (SELECT vec_id, SUM(x * x) AS n2 FROM z GROUP BY vec_id), "
        "code AS (SELECT vec_id, "
        "CAST(SUM(CASE WHEN d < 32 AND x > 0.0e0 THEN "
        "(1::BIGINT << CAST(d AS INTEGER)) ELSE 0 END) AS BIGINT) AS lo, "
        "CAST(SUM(CASE WHEN d >= 32 AND x > 0.0e0 THEN "
        "(1::BIGINT << CAST(d - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) "
        "AS hi FROM z GROUP BY vec_id), "
        f"q AS (SELECT * FROM code WHERE vec_id < {_BQ_NQ}), "
        "ph AS (SELECT q.vec_id AS q_id, c.vec_id AS v, "
        "bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) "
        "AS hamming FROM q JOIN code c ON c.vec_id <> q.vec_id), "
        "rh AS (SELECT q_id, v, ROW_NUMBER() OVER (PARTITION BY q_id "
        "ORDER BY hamming, v) AS rk FROM ph), "
        f"bq AS (SELECT q_id, v FROM rh WHERE rk <= {_BQ_K}), "
        f"sh AS (SELECT q_id, v FROM rh WHERE rk <= {_BQ_SHORT}), "
        "scs AS (SELECT p.q_id, p.v, SUM(za.x * zb.x) AS dot FROM sh p "
        "JOIN z za ON za.vec_id = p.q_id "
        "JOIN z zb ON zb.vec_id = p.v AND zb.d = za.d "
        "GROUP BY p.q_id, p.v), "
        "rrk AS (SELECT s.q_id, s.v, ROW_NUMBER() OVER ("
        "PARTITION BY s.q_id ORDER BY "
        + rnd("s.dot / (SQRT(nu.n2) * SQRT(nv.n2))", 6)
        + " DESC, s.v) AS rk FROM scs s "
        "JOIN nrm nu ON nu.vec_id = s.q_id "
        "JOIN nrm nv ON nv.vec_id = s.v), "
        f"rr AS (SELECT q_id, v FROM rrk WHERE rk <= {_BQ_K}), "
        "px AS (SELECT q.vec_id AS q_id, e.vec_id AS v FROM q "
        "JOIN embeddings e ON e.vec_id <> q.vec_id), "
        "scx AS (SELECT p.q_id, p.v, SUM(za.x * zb.x) AS dot FROM px p "
        "JOIN z za ON za.vec_id = p.q_id "
        "JOIN z zb ON zb.vec_id = p.v AND zb.d = za.d "
        "GROUP BY p.q_id, p.v), "
        "xrk AS (SELECT s.q_id, s.v, ROW_NUMBER() OVER ("
        "PARTITION BY s.q_id ORDER BY "
        + rnd("s.dot / (SQRT(nu.n2) * SQRT(nv.n2))", 6)
        + " DESC, s.v) AS rk FROM scx s "
        "JOIN nrm nu ON nu.vec_id = s.q_id "
        "JOIN nrm nv ON nv.vec_id = s.v), "
        f"ex AS (SELECT q_id, v FROM xrk WHERE rk <= {_BQ_K}) "
        "SELECT q.vec_id AS q_id, "
        "CAST((SELECT COUNT(*) FROM bq JOIN ex ON ex.q_id = bq.q_id "
        "AND ex.v = bq.v WHERE bq.q_id = q.vec_id) AS BIGINT) "
        "AS hits_bq, "
        "CAST((SELECT COUNT(*) FROM rr JOIN ex ON ex.q_id = rr.q_id "
        "AND ex.v = rr.v WHERE rr.q_id = q.vec_id) AS BIGINT) "
        "AS hits_rerank, "
        + rnd(
            "CAST((SELECT COUNT(*) FROM bq JOIN ex ON ex.q_id = bq.q_id "
            "AND ex.v = bq.v WHERE bq.q_id = q.vec_id) AS DOUBLE) "
            f"/ {_BQ_K}.0e0",
            4,
        )
        + " AS recall_bq, "
        + rnd(
            "CAST((SELECT COUNT(*) FROM rr JOIN ex ON ex.q_id = rr.q_id "
            "AND ex.v = rr.v WHERE rr.q_id = q.vec_id) AS DOUBLE) "
            f"/ {_BQ_K}.0e0",
            4,
        )
        + " AS recall_rerank FROM q"
    ),
)
def embed_binary_quantize_recall(spark, sf_dir):
    """Binary quantization retrieval, audited: each 64-dim float vector
    compresses to a 64-bit sign code (two BIGINT halves — 16x smaller
    than the f32 array), candidate distance is Hamming (two XOR +
    popcount — the SIMD-trivial inner loop every vector store runs),
    and the production two-stage pattern is measured: recall@10 of the
    raw code ranking vs recall@10 after exact-cosine reranking of a 4x
    Hamming shortlist (measured at sf0.1: 0.15 raw -> 0.33 reranked —
    the rerank stage doubles recall for 40 exact distance evaluations
    per query). Hash-gated end to end (sign codes are
    deterministic; Hamming is integer; rerank/exact ranks order by
    ROUNDED cosine with a vec_id tie-break).

    Scale shape: codes build narrowly in-row (one fold per half, no
    shuffle) and the 16-byte-per-vector code table is what actually
    gets scanned — the float arrays are touched only for the
    shortlist-sized rerank (SHORT x NQ rows) and the audit's exact
    truth set (query batch x corpus, broadcast). This is the memory
    story that makes 100 TB of embeddings scannable: the code table is
    ~6 TB and the full-precision rerank reads are point lookups."""
    # Round 9: per-vector self-dot n2 computed once in the materialized
    # frame — it was re-folded TWICE per rerank/truth pair (2P extra
    # interpreted HOF folds for P pairs). The cross dot deliberately
    # stays on the array HOF: this query's pair frames cross a
    # broadcast-nested-loop join, and A/B showed 64 flat columns riding
    # that join cost more than the one remaining fold saves (the
    # opposite trade from the semdedup/signbucket hash joins). Same
    # expressions, same fold order — bit-identical cosines.
    emb = T.materialize(
        _emb(spark, sf_dir).select(
            "vec_id",
            "embedding",
            F.expr(_DOT.format(a="embedding", b="embedding")).alias("n2"),
        )
    )
    codes = T.materialize(
        emb.select(
            "vec_id",
            F.expr(_BQ_LO_SPARK).alias("lo"),
            F.expr(_BQ_HI_SPARK).alias("hi"),
        )
    )
    qc = codes.filter(F.col("vec_id") < _BQ_NQ).select(
        F.col("vec_id").alias("q_id"),
        F.col("lo").alias("q_lo"),
        F.col("hi").alias("q_hi"),
    )
    ph = (
        codes.crossJoin(F.broadcast(qc))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("v"),
            F.expr(
                "bit_count(q_lo ^ lo) + bit_count(q_hi ^ hi)"
            ).alias("hamming"),
        )
    )
    wq = Window.partitionBy("q_id").orderBy("hamming", "v")
    rh = ph.withColumn("rk", F.row_number().over(wq))
    bq = rh.filter(F.col("rk") <= _BQ_K).select("q_id", "v")
    sh = rh.filter(F.col("rk") <= _BQ_SHORT).select("q_id", "v")

    qe = emb.filter(F.col("vec_id") < _BQ_NQ).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("n2").alias("n2q"),
    )
    ce = emb.select(
        F.col("vec_id").alias("v"),
        F.col("embedding").alias("ve"),
        F.col("n2").alias("n2v"),
    )
    dot = "(" + _DOT.format(a="qe", b="ve") + ")"
    wc = Window.partitionBy("q_id")

    def topk_cos(pairs_with_arrays):
        return (
            pairs_with_arrays.select(
                "q_id",
                "v",
                F.expr(
                    rnd(f"{dot} / (SQRT(n2q) * SQRT(n2v))", 6)
                ).alias("cosine"),
            )
            .withColumn(
                "rk",
                F.row_number().over(
                    wc.orderBy(F.desc("cosine"), F.asc("v"))
                ),
            )
            .filter(F.col("rk") <= _BQ_K)
            .select("q_id", "v")
        )

    rr = topk_cos(sh.join(F.broadcast(qe), "q_id").join(ce, "v"))
    ex = T.materialize(
        topk_cos(
            ce.crossJoin(F.broadcast(qe)).filter(
                F.col("v") != F.col("q_id")
            )
        )
    )

    def hits(edges, name):
        return (
            edges.join(ex, ["q_id", "v"])
            .groupBy("q_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias(name))
        )

    out = (
        qc.select("q_id")
        .join(hits(bq, "hits_bq"), "q_id", "left")
        .join(hits(rr, "hits_rerank"), "q_id", "left")
    )
    return out.select(
        "q_id",
        F.coalesce("hits_bq", F.lit(0)).cast("bigint").alias("hits_bq"),
        F.coalesce("hits_rerank", F.lit(0))
        .cast("bigint")
        .alias("hits_rerank"),
        F.expr(
            rnd(f"CAST(COALESCE(hits_bq, 0) AS DOUBLE) / {_BQ_K}.0e0", 4)
        ).alias("recall_bq"),
        F.expr(
            rnd(
                f"CAST(COALESCE(hits_rerank, 0) AS DOUBLE) / {_BQ_K}.0e0",
                4,
            )
        ).alias("recall_rerank"),
    )


# --- k-means|| initialization (Bahmani et al. 2012) ------------------------

_KMPP_L = 4          # oversampling factor per round
_KMPP_R = 2          # sampling rounds (O(log n) in the paper; 2 here)
_KMPP_K = 4          # final centers chosen from the candidate pool
_KMPP_M = 1048576    # LCG modulus (2^20): u(x, r) uniform in [0, M)
_KMPP_A = 2654435761  # Knuth multiplicative hash
_KMPP_B = 40503


def _kmpp_u(r: int) -> str:
    """Deterministic per-(vector, round) uniform in [0, M): pure integer
    arithmetic, identical in both engines (the Efraimidis/LCG doctrine
    of corpus_weighted_sample)."""
    return f"((vec_id * {_KMPP_A} + {r} * {_KMPP_B}) % {_KMPP_M})"


def _kmpp_oracle() -> str:
    """Unrolled k-means|| CTE chain: per round, exact micro-snapped
    min-distance to the current candidate set, the exact-integer cost
    phi, and the integer-product sampling rule
    u * phi < M * l * d_u  (== P(pick) = min(1, l*d2/phi))."""
    parts = [
        "c0 AS (SELECT vec_id AS seed_id, embedding AS sv, 0 AS rnd "
        "FROM embeddings WHERE vec_id = 0)"
    ]
    for r in range(1, _KMPP_R + 1):
        p = r - 1
        parts.append(
            f"z{r} AS (SELECT e.vec_id, c.seed_id, "
            "CAST(unnest(e.embedding) AS DOUBLE) AS x, "
            "CAST(unnest(c.sv) AS DOUBLE) AS y "
            f"FROM embeddings e CROSS JOIN c{p} c)"
        )
        parts.append(
            f"d{r} AS (SELECT vec_id, seed_id, "
            "CAST(ROUND(SUM((x - y) * (x - y)) * 1.0e6) AS BIGINT) "
            f"AS d_u FROM z{r} GROUP BY vec_id, seed_id)"
        )
        parts.append(
            f"m{r} AS (SELECT vec_id, MIN(d_u) AS d_u FROM d{r} "
            "GROUP BY vec_id)"
        )
        parts.append(
            f"p{r} AS (SELECT SUM(d_u) AS phi FROM m{r})"
        )
        parts.append(
            f"n{r} AS (SELECT m.vec_id FROM m{r} m CROSS JOIN p{r} "
            f"WHERE {_kmpp_u(r)} * phi < "
            f"{_KMPP_M} * {_KMPP_L} * m.d_u)"
        )
        parts.append(
            f"c{r} AS (SELECT seed_id, sv, rnd FROM c{p} UNION ALL "
            f"SELECT e.vec_id, e.embedding, {r} FROM embeddings e "
            f"JOIN n{r} ON n{r}.vec_id = e.vec_id)"
        )
    last = f"c{_KMPP_R}"
    fr = _KMPP_R + 1
    return (
        "WITH " + ", ".join(parts) + ", "
        f"zf AS (SELECT e.vec_id, c.seed_id, "
        "CAST(unnest(e.embedding) AS DOUBLE) AS x, "
        "CAST(unnest(c.sv) AS DOUBLE) AS y "
        f"FROM embeddings e CROSS JOIN {last} c), "
        "df AS (SELECT vec_id, seed_id, "
        "CAST(ROUND(SUM((x - y) * (x - y)) * 1.0e6) AS BIGINT) AS d_u "
        "FROM zf GROUP BY vec_id, seed_id), "
        "af AS (SELECT vec_id, seed_id, ROW_NUMBER() OVER "
        "(PARTITION BY vec_id ORDER BY d_u, seed_id) AS rk FROM df), "
        "wf AS (SELECT seed_id, COUNT(*) AS w FROM af WHERE rk = 1 "
        "GROUP BY seed_id), "
        f"o AS (SELECT c.seed_id, CAST(c.rnd AS INT) AS round_added, "
        "CAST(COALESCE(wf.w, 0) AS BIGINT) AS weight "
        f"FROM {last} c LEFT JOIN wf ON wf.seed_id = c.seed_id) "
        "SELECT seed_id, round_added, weight, "
        "ROW_NUMBER() OVER (ORDER BY weight DESC, seed_id) "
        f"<= {_KMPP_K} AS chosen FROM o"
    )


@query("embed_kmeans_parallel_init", oracle=_kmpp_oracle())
def embed_kmeans_parallel_init(spark, sf_dir):
    """k-means|| initialization (Bahmani et al. 2012) — the reason this
    operator family exists at 100 TB: k-means++ needs k strictly
    sequential passes (each next center depends on all previous), so at
    a billion vectors the INIT dominates the clustering. k-means||
    replaces it with O(log n) rounds that each OVERSAMPLE l candidates
    in parallel with probability l*d2(x,C)/phi, then reduce the ~l*R
    candidate pool to k weighted centers. Each round here is one
    broadcast-argmin narrow pass over the corpus (candidate vectors
    collected + broadcast, min-distance via the micro-snapped in-row
    fold) plus ONE scalar aggregate (phi) pulled to the driver — the
    same driver-side aggregate-state pattern as the power iteration,
    never row data. Sampling is the exact integer product rule
    u * phi < M * l * d_u with a per-(vector, round) LCG uniform, so
    the 'random' init is bit-reproducible in any engine and stable
    under repartitioning; the final weighted top-k stands in for the
    weighted recluster of the candidate pool (at k this small the
    classic finish is a driver-side weighted k-means++ over ~10 rows).
    BIGINT guard: u < 2^20 and phi at ~1e12 keep u*phi < 2^63; past
    ~1e9 vectors move the rule to (u/M) * phi < l * d_u in DOUBLE on
    the snapped integers, or DECIMAL(38,0).
    Deliberately round-unrolled; candidates never exceed 1 + l*R.
    The corpus frame is MATERIALIZED: every round makes a narrow pass
    over it, and unpersisted those O(log n) passes each re-read
    parquet (the round-7 scan audit measured 10 scans) — at a billion
    vectors the difference between cached rounds and re-scans IS the
    init cost."""
    emb = T.materialize(_emb(spark, sf_dir))
    cand: list[tuple[int, int]] = [(0, 0)]  # (vec_id, round_added)
    for r in range(1, _KMPP_R + 1):
        ids = [v for v, _ in cand]
        seeds = (
            emb.filter(F.col("vec_id").isin(ids))
            .select(
                F.struct(
                    F.col("vec_id").alias("seed_id"),
                    F.col("embedding").alias("sv"),
                ).alias("s")
            )
            .agg(F.sort_array(F.collect_list("s")).alias("seeds"))
        )
        m = emb.join(F.broadcast(seeds)).select(
            "vec_id",
            F.expr(
                "array_min(transform(seeds, s -> "
                + _L2U.format(a="embedding", b="s.sv")
                + "))"
            ).alias("d_u"),
        )
        phi = m.agg(F.sum("d_u")).collect()[0][0]
        picks = (
            m.filter(
                F.expr(
                    f"{_kmpp_u(r)} * CAST({phi} AS BIGINT) < "
                    f"{_KMPP_M} * {_KMPP_L} * d_u"
                )
            )
            .select("vec_id")
            .collect()
        )
        cand.extend((row[0], r) for row in picks)
    ids = [v for v, _ in cand]
    seeds = (
        emb.filter(F.col("vec_id").isin(ids))
        .select(
            F.struct(
                F.col("vec_id").alias("seed_id"),
                F.col("embedding").alias("sv"),
            ).alias("s")
        )
        .agg(F.sort_array(F.collect_list("s")).alias("seeds"))
    )
    near = emb.join(F.broadcast(seeds)).select(
        F.expr(
            "array_min(transform(seeds, s -> struct("
            + _L2U.format(a="embedding", b="s.sv")
            + " AS d_u, s.seed_id AS seed_id)))"
        ).alias("best")
    )
    weights = near.groupBy(F.col("best.seed_id").alias("seed_id")).agg(
        F.count(F.lit(1)).alias("w")
    )
    cdf = spark.createDataFrame(cand, "seed_id: bigint, round_added: int")
    out = cdf.join(weights, "seed_id", "left").select(
        "seed_id",
        "round_added",
        F.coalesce("w", F.lit(0)).cast("bigint").alias("weight"),
    )
    from pyspark.sql import Window as _W

    return out.withColumn(
        "chosen",
        F.row_number().over(
            _W.orderBy(F.desc("weight"), "seed_id")
        )
        <= _KMPP_K,
    )


# --- cluster topic summary: what is in each slice of the training mix -------

#: minimum in-cluster term count before a token can headline a topic —
#: suppresses one-off tokens whose lift is huge but meaningless
_TOPIC_MIN_C = 3
_TOPIC_TOP = 3


def _topic_tail(dt: str) -> str:
    """Shared engine-neutral tail over a (cluster, doc_id, tok) frame:
    per-cluster token counts, corpus token counts over the SAME embedded
    subset, distinctiveness lift snapped to micro-units, and the top-3
    tokens per cluster by (lift desc, tok) via a cluster-partitioned
    row_number (WindowGroupLimit — per-partition top-k, never global)."""
    lift_u = (
        "CAST(ROUND(1.0e6 * (CAST(c AS DOUBLE) / n_c) "
        "/ (CAST(gc AS DOUBLE) / nt)) AS BIGINT)"
    )
    return (
        f"tc AS (SELECT cluster, tok, COUNT(*) AS c FROM {dt} "
        "GROUP BY cluster, tok), "
        "nc AS (SELECT cluster, SUM(c) AS n_c FROM tc GROUP BY cluster), "
        f"g AS (SELECT tok, COUNT(*) AS gc FROM {dt} GROUP BY tok), "
        "tot AS (SELECT SUM(gc) AS nt FROM g), "
        "nd AS (SELECT cluster, COUNT(DISTINCT doc_id) AS n_docs "
        f"FROM {dt} GROUP BY cluster), "
        "lf AS (SELECT tc.cluster, tc.tok, tc.c, "
        + lift_u
        + " AS l_u FROM tc JOIN nc USING (cluster) JOIN g USING (tok) "
        f"CROSS JOIN tot WHERE tc.c >= {_TOPIC_MIN_C}), "
        "r AS (SELECT cluster, tok, c, l_u, ROW_NUMBER() OVER ("
        "PARTITION BY cluster ORDER BY l_u DESC, tok) AS rk FROM lf) "
        "SELECT r.cluster AS cluster, CAST(nd.n_docs AS BIGINT) "
        "AS n_docs, CAST(rk AS INT) AS rank, tok AS token, "
        "CAST(c AS BIGINT) AS in_cluster_count, "
        "CAST(l_u AS DOUBLE) / 1.0e6 AS lift "
        f"FROM r JOIN nd ON nd.cluster = r.cluster WHERE rk <= {_TOPIC_TOP}"
    )


@query(
    "corpus_cluster_topics",
    oracle=(
        "WITH " + _KM_ASSIGN_CTE + ", "
        + "toks AS (SELECT doc_id, unnest(string_split(text, ' ')) "
        "AS tok FROM documents), "
        "dt AS (SELECT a.cluster, t.doc_id, t.tok FROM toks t "
        "JOIN a ON a.vec_id = t.doc_id), "
        + _topic_tail("dt")
    ),
)
def corpus_cluster_topics(spark, sf_dir):
    """Training-mix topic report: every embedding k-means cluster
    summarized by its 3 most DISTINCTIVE tokens — lift = in-cluster
    term share over the corpus term share, the fastest human-readable
    answer to 'what did semantic clustering actually put in each slice
    of my mix'. Bridges the embedding and text families: deterministic
    seeded argmin assignment (identical to embed_kmeans_assign, exact
    micro-snapped L2), docs joined on the doc==vec identity, then an
    all-aggregate tail — token-volume shuffle once, everything after at
    (cluster x vocabulary) cardinality, top-k via a cluster-partitioned
    WindowGroupLimit. The min-support floor (c >= 3) keeps one-off
    tokens from headlining. At 100 TB the report costs one tokenize
    pass over the embedded subset; the cluster count and vocabulary
    bound every downstream frame."""
    emb = tables.load(spark, sf_dir, "embeddings")
    seeds = (
        emb.filter(F.col("vec_id") < _KM_K)
        .select(
            F.struct(
                F.col("vec_id").alias("seed_id"),
                F.col("embedding").alias("se"),
            ).alias("s")
        )
        .agg(F.sort_array(F.collect_list("s")).alias("seeds"))
    )
    a = emb.join(F.broadcast(seeds)).select(
        "vec_id",
        F.expr(
            "array_min(transform(seeds, s -> struct("
            + _L2U.format(a="embedding", b="s.se")
            + " AS d_u, s.seed_id AS seed_id))).seed_id"
        ).alias("cluster"),
    )
    dt = (
        T.tokens(spark, sf_dir)
        .select("doc_id", "tok")
        .join(a, F.col("doc_id") == F.col("vec_id"))
        .select("cluster", "doc_id", "tok")
    )
    dt.createOrReplaceTempView("topic_dt")
    return spark.sql("WITH " + _topic_tail("topic_dt"))


# --- graph-ANN SEARCH leg: beam walk over the built kNN graph --------------
# (round-8 verdict task 7: the tree had LSH/IVF/PQ indexes and an
# NN-descent graph BUILD but no graph-walk SEARCH — the HNSW-style beam
# search serving stacks actually run.)

_GS_QMOD = 32   # 1-in-32 corpus members form the query batch
_GS_BEAM = 8    # beam width: nodes expanded per hop per query
_GS_HOPS = 2    # fixed-depth expansion beyond the seeded adjacency
_GS_TOPR = 10   # recall@10


def _gs_score_duck(pairs: str, tag: str) -> str:
    """Score a (q, v) pair set by rounded query-to-node cosine — the
    beam's rank key, same float discipline as _NND_COS (one rounded
    division off exact summed products and once-computed norms)."""
    return (
        f"gsc{tag} AS (SELECT p.q, p.v, SUM(za.x * zb.x) AS dot "
        f"FROM {pairs} p JOIN z za ON za.vec_id = p.q "
        "JOIN z zb ON zb.vec_id = p.v AND zb.d = za.d "
        "GROUP BY p.q, p.v), "
        f"gv{tag} AS (SELECT s.q, s.v, "
        + rnd("s.dot / (SQRT(nq.n2) * SQRT(nv.n2))", 6)
        + f" AS cos FROM gsc{tag} s JOIN nrm nq ON nq.vec_id = s.q "
        "JOIN nrm nv ON nv.vec_id = s.v)"
    )


def _gs_rank(src: str, limit: int) -> str:
    return (
        f"(SELECT q, v FROM (SELECT q, v, ROW_NUMBER() OVER ("
        f"PARTITION BY q ORDER BY cos DESC, v) AS rk FROM {src}) "
        f"WHERE rk <= {limit})"
    )


def _gs_oracle() -> str:
    """DuckDB twin: identical graph (the embed_nndescent_knn oracle's
    z/nrm/proj/bk/p0/e0 chain), identical unrolled beam, exact top-10
    truth on the broadcast-sized query batch."""
    parts = [
        "z AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, "
        "generate_subscripts(embedding, 1) - 1 AS d FROM embeddings)",
        "nrm AS (SELECT vec_id, SUM(x * x) AS n2 FROM z GROUP BY vec_id)",
        f"proj AS (SELECT vec_id, j, SUM(x * {_W_SQL}) AS dot "
        "FROM z CROSS JOIN (SELECT unnest(range(0, "
        f"{8 * _NND_TABLES})) AS j) GROUP BY vec_id, j)",
    ]
    parts.extend(_nnd_bk_duck(t) for t in range(_NND_TABLES))
    parts.append(
        "p0 AS ("
        + " UNION ".join(
            f"SELECT a.vec_id AS u, c.vec_id AS v FROM bk{t} a "
            f"JOIN bk{t} c ON c.b = a.b AND c.vec_id <> a.vec_id"
            for t in range(_NND_TABLES)
        )
        + ")"
    )
    parts.append(_nnd_score_duck("p0", "0"))
    parts.append(
        "qs AS (SELECT vec_id AS q FROM embeddings WHERE "
        + T.hashed_id_duck("('gq:' || CAST(vec_id AS VARCHAR))", _GS_QMOD)
        + " = 0)"
    )
    parts.append(
        "s0 AS (SELECT qs.q AS q, e0.v AS v FROM qs "
        "JOIN e0 ON e0.u = qs.q)"
    )
    parts.append(_gs_score_duck("s0", "0"))
    parts.append("vis0 AS (SELECT q, v, cos FROM gv0)")
    for k in range(1, _GS_HOPS + 1):
        p = k - 1
        parts.append(f"f{k} AS {_gs_rank(f'vis{p}', _GS_BEAM)}")
        parts.append(
            f"n{k} AS (SELECT DISTINCT f.q AS q, e0.v AS v FROM f{k} f "
            "JOIN e0 ON e0.u = f.v WHERE e0.v <> f.q)"
        )
        parts.append(_gs_score_duck(f"n{k}", str(k)))
        parts.append(
            f"vis{k} AS (SELECT DISTINCT q, v, cos FROM ("
            f"SELECT q, v, cos FROM vis{p} "
            f"UNION ALL SELECT q, v, cos FROM gv{k}))"
        )
    last = f"vis{_GS_HOPS}"
    parts.append(f"bt AS {_gs_rank(last, _GS_TOPR)}")
    parts.append(
        "pxq AS (SELECT qs.q AS q, e.vec_id AS v FROM qs "
        "JOIN embeddings e ON e.vec_id <> qs.q)"
    )
    parts.append(_gs_score_duck("pxq", "x"))
    parts.append(f"ex AS {_gs_rank('gvx', _GS_TOPR)}")
    parts.append(
        f"nvis AS (SELECT q, COUNT(*) AS n_visited FROM {last} GROUP BY q)"
    )
    parts.append(
        "ht AS (SELECT bt.q, COUNT(*) AS hits FROM bt "
        "JOIN ex ON ex.q = bt.q AND ex.v = bt.v GROUP BY bt.q)"
    )
    # multi-scanned CTEs materialized (z is scanned 12x inlined, nrm
    # 10x, the graph e0 and query batch qs 3x each, the per-hop visited
    # sets 2x) — the round-9 sf1-shape budget analysis; same medicine
    # as the nndescent oracle
    return _mat_ctes(
        "WITH " + ", ".join(parts) + " "
        "SELECT qs.q AS vec_id, "
        "CAST(COALESCE(nvis.n_visited, 0) AS BIGINT) AS n_visited, "
        "CAST(COALESCE(ht.hits, 0) AS BIGINT) AS hits, "
        + rnd(
            f"CAST(COALESCE(ht.hits, 0) AS DOUBLE) / {_GS_TOPR}.0e0", 4
        )
        + " AS recall_at10 "
        "FROM qs LEFT JOIN nvis ON nvis.q = qs.q "
        "LEFT JOIN ht ON ht.q = qs.q",
        (
            "z", "nrm", "proj", "bk0", "bk1", "e0", "qs",
            "vis0", "vis1", "vis2",
        ),
    )


@query("embed_graph_search_recall", oracle=_gs_oracle())
def embed_graph_search_recall(spark, sf_dir):
    """Graph-ANN SEARCH: fixed-depth beam walk over the LSH-seeded kNN
    graph (_init_knn_edges — the SAME code that builds
    embed_nndescent_knn's init graph), with an exact recall@10 audit on
    a deterministic 1-in-32 query batch. This is the serving-side leg
    the index family lacked: HNSW-style stacks answer queries by
    walking a prebuilt neighbor graph, and this query is that walk as a
    relational plan — seed the beam with the query node's own
    adjacency, then per hop expand the top-8 frontier through the edge
    list, score new nodes against the query (rounded cosine, vec_id
    tie-break — both engines materialize identical beams), and keep the
    union. After 2 hops, report per query: nodes visited, exact-top-10
    hits, recall@10.

    Scale shape: the query batch is bounded (broadcast, with its norms
    in-row), every hop is a BROADCAST join of the beam-bounded frontier
    (<= Q x beam x K rows) against the K-degree edge list — never a
    shuffle of the corpus — and candidate scoring recomputes the
    candidate norm in-row (O(dim) on beam-bounded rows) instead of
    joining an n-row norm table. The exact truth is query-batch x
    corpus (linear in n, the audit-on-a-slice shape shared with the
    sketch family). The graph build itself is the O(n) bucketed
    construction proven in embed_nndescent_knn."""
    emb = T.materialize(
        T.spread_small_scan(
            _emb(spark, sf_dir).select("vec_id", "embedding"),
            spark,
            f"{sf_dir}/embeddings.parquet",
        )
    )
    return _graph_search(spark, emb)


def _graph_search(spark, emb):
    """Core of embed_graph_search_recall over an arbitrary materialized
    (vec_id, embedding) frame — shared with the sampled at-scale twin
    (every knob, including the graph's bucket count B = n/10, derives
    from the frame's own count, so the twin is the SAME walk at sample
    cardinality)."""
    n = emb.count()
    nrm = T.materialize(
        emb.select(
            "vec_id",
            F.expr(_DOT.format(a="embedding", b="embedding")).alias("n2"),
        )
    )
    e0 = T.materialize(_init_knn_edges(emb, nrm, n))
    qs = T.materialize(
        emb.join(nrm, "vec_id")
        .filter(
            F.expr(
                T.hashed_id_spark(
                    "concat('gq:', CAST(vec_id AS STRING))", _GS_QMOD
                )
            )
            == 0
        )
        .select(
            F.col("vec_id").alias("q"),
            F.col("embedding").alias("qe"),
            F.col("n2").alias("n2q"),
        )
    )
    seed = (
        F.broadcast(qs.select("q"))
        .join(e0, F.col("q") == F.col("u"))
        .select("q", "v")
    )
    return _beam_audit(emb, e0, qs, seed)


def _gs_score(qs, ev):
    """(q, v) pair scorer factory: broadcast the beam-bounded pair set
    (with the query arrays riding along) into the corpus scan; the
    candidate norm is recomputed in-row — no n-row norm join."""

    def score(pairs):
        return (
            F.broadcast(pairs.join(F.broadcast(qs), "q"))
            .join(ev, "v")
            .select(
                "q",
                "v",
                F.expr(
                    rnd(
                        _DOT.format(a="qe", b="ev")
                        + " / (SQRT(n2q) * SQRT("
                        + _DOT.format(a="ev", b="ev")
                        + "))",
                        6,
                    )
                ).alias("cos"),
            )
        )

    return score


def _beam_audit(emb, e0, qs, seed):
    """The walk + exact-audit core of embed_graph_search_recall over an
    arbitrary seed pair set (q, v): score the seed, expand the top-8
    frontier through e0 for _GS_HOPS hops, then exact recall@10 on the
    broadcast query batch. Factored out so the HNSW descent
    (embed_hnsw_search) runs the IDENTICAL layer-0 walk, seeded by its
    upper-layer waypoint instead of the query node's own adjacency."""
    ev = emb.select(F.col("vec_id").alias("v"), F.col("embedding").alias("ev"))
    score = _gs_score(qs, ev)
    vis = T.materialize(score(seed).distinct())
    w = Window.partitionBy("q").orderBy(F.desc("cos"), F.asc("v"))
    for _k in range(_GS_HOPS):
        beam = (
            vis.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _GS_BEAM)
            .select("q", F.col("v").alias("u"))
        )
        nxt = (
            F.broadcast(beam)
            .join(e0, "u")
            .filter(F.col("v") != F.col("q"))
            .select("q", "v")
            .distinct()
        )
        vis = T.materialize(
            vis.unionByName(score(nxt)).distinct(), cut_lineage=True
        )
    bt = (
        vis.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _GS_TOPR)
        .select("q", "v")
    )
    px = (
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q"))
        .select(
            "q",
            F.col("vec_id").alias("v"),
            F.expr(
                rnd(
                    _DOT.format(a="qe", b="embedding")
                    + " / (SQRT(n2q) * SQRT("
                    + _DOT.format(a="embedding", b="embedding")
                    + "))",
                    6,
                )
            ).alias("cos"),
        )
    )
    ex = T.materialize(
        px.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _GS_TOPR)
        .select("q", "v")
    )
    nvis = vis.groupBy("q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_visited")
    )
    ht = (
        bt.join(F.broadcast(ex), ["q", "v"])
        .groupBy("q")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    # assembly joins are query-batch-sized on both sides: broadcast,
    # never sort-merge (plan-asserted by test_plans)
    return (
        qs.select("q")
        .join(F.broadcast(nvis), "q", "left")
        .join(F.broadcast(ht), "q", "left")
        .select(
            F.col("q").alias("vec_id"),
            F.coalesce("n_visited", F.lit(0))
            .cast("bigint")
            .alias("n_visited"),
            F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
            F.expr(
                rnd(
                    f"CAST(COALESCE(hits, 0) AS DOUBLE) / {_GS_TOPR}.0e0",
                    4,
                )
            ).alias("recall_at10"),
        )
    )


#: corpus-sample modulus for the graph-search at-scale twin (~1/4 kept,
#: same rate as the nndescent twin; salted 'gcs:' so the sampling stays
#: independent of both 'cs:' and the 'gq:' query draw)
_GS_CS = 4


def _gs_sampled_oracle() -> str:
    from ..registry import ORACLES

    pred = (
        T.hashed_id_duck("('gcs:' || CAST(vec_id AS VARCHAR))", _GS_CS)
        + " = 0"
    )
    return T.sampled_table_duck(
        ORACLES["embed_graph_search_recall"], "embeddings", pred
    )


@query("embed_graph_search_recall_sampled", oracle=_gs_sampled_oracle())
def embed_graph_search_recall_sampled(spark, sf_dir):
    """Beam-walk search + exact recall@10 audit on a deterministic
    1-in-4 key-hash sample of the embedding corpus — the at-scale twin
    of embed_graph_search_recall, same doctrine as
    embed_nndescent_knn_sampled: the full query's DuckDB truth set is
    query-batch x corpus, which outgrows a fixed sweep budget with
    corpus size, while a 1/4 sample of each decade is exactly the
    cardinality the full audit already passes one decade down. Every
    knob (graph bucket count, query draw, beam width) derives from the
    sampled frame itself, so the twin runs the IDENTICAL machinery."""
    base = _emb(spark, sf_dir).select("vec_id", "embedding").filter(
        F.expr(
            T.hashed_id_spark(
                "concat('gcs:', CAST(vec_id AS STRING))", _GS_CS
            )
        )
        == 0
    )
    emb = T.materialize(
        T.spread_small_scan(base, spark, f"{sf_dir}/embeddings.parquet")
    )
    return _graph_search(spark, emb)


# --- HNSW-style hierarchical search ----------------------------------------

#: level hash modulus: level 2 iff h = 0 (1/16 of nodes), level 1 iff
#: h % 4 = 0 (1/4, nesting level 2 — the geometric layer law HNSW
#: draws randomly, made deterministic and content-keyed)
_HN_LMOD = 16
_HN_LSALT = "lv:"
_HN_QSALT = "hq:"


def _hn_h_spark() -> str:
    return T.hashed_id_spark(
        f"concat('{_HN_LSALT}', CAST(vec_id AS STRING))", _HN_LMOD
    )


def _hn_layer_b_duck(pred: str) -> str:
    """Per-layer bucket count, the same n/10 law as _NND_B_DUCK but
    over the layer's membership."""
    return (
        f"(SELECT CAST(LEAST({_NND_MAXB}, GREATEST(1, "
        f"FLOOR(COUNT(*) / {_NND_BSZ}.0e0))) AS BIGINT) "
        f"FROM lv WHERE {pred})"
    )


def _hn_bk_duck(layer: int, t: int, pred: str) -> str:
    """Bucket CTE for LSH table t restricted to a layer's members."""
    lo, hi = 8 * t, 8 * t + 8
    return (
        f"hbk{layer}_{t} AS (SELECT proj.vec_id, "
        f"SUM(CASE WHEN dot > 0.0e0 THEN (1 << (j - {lo})) ELSE 0 END) "
        f"% {_hn_layer_b_duck(pred)} AS b "
        "FROM proj JOIN lv ON lv.vec_id = proj.vec_id "
        f"WHERE {pred} AND j >= {lo} AND j < {hi} "
        "GROUP BY proj.vec_id)"
    )


def _hn_top1(src: str, out: str) -> str:
    return (
        f"{out} AS (SELECT q, v FROM (SELECT q, v, ROW_NUMBER() OVER ("
        f"PARTITION BY q ORDER BY cos DESC, v) AS rk FROM {src}) "
        "WHERE rk = 1)"
    )


def _hnsw_oracle() -> str:
    """DuckDB twin: identical layers (the level hash is content-keyed),
    identical per-layer LSH-seeded kNN graphs, identical two-waypoint
    greedy descent, then the embed_graph_search_recall beam unrolled on
    the waypoint-seeded frontier, exact top-10 truth on the broadcast
    query batch."""
    h = T.hashed_id_duck(
        f"('{_HN_LSALT}' || CAST(vec_id AS VARCHAR))", _HN_LMOD
    )
    parts = [
        "z AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x, "
        "generate_subscripts(embedding, 1) - 1 AS d FROM embeddings)",
        "nrm AS (SELECT vec_id, SUM(x * x) AS n2 FROM z GROUP BY vec_id)",
        f"proj AS (SELECT vec_id, j, SUM(x * {_W_SQL}) AS dot "
        "FROM z CROSS JOIN (SELECT unnest(range(0, "
        f"{8 * _NND_TABLES})) AS j) GROUP BY vec_id, j)",
        f"lv AS (SELECT vec_id, {h} AS h FROM embeddings)",
    ]
    # layer 0 = the full-corpus graph (bk chain identical to e0's);
    # layers 1/2 the same construction on the layer members
    parts.extend(_nnd_bk_duck(t) for t in range(_NND_TABLES))
    for layer, pred in ((1, "h % 4 = 0"), (2, "h = 0")):
        parts.extend(
            _hn_bk_duck(layer, t, pred) for t in range(_NND_TABLES)
        )
    parts.append(
        "p0 AS ("
        + " UNION ".join(
            f"SELECT a.vec_id AS u, c.vec_id AS v FROM bk{t} a "
            f"JOIN bk{t} c ON c.b = a.b AND c.vec_id <> a.vec_id"
            for t in range(_NND_TABLES)
        )
        + ")"
    )
    for layer in (1, 2):
        parts.append(
            f"p{layer} AS ("
            + " UNION ".join(
                f"SELECT a.vec_id AS u, c.vec_id AS v "
                f"FROM hbk{layer}_{t} a JOIN hbk{layer}_{t} c "
                "ON c.b = a.b AND c.vec_id <> a.vec_id"
                for t in range(_NND_TABLES)
            )
            + ")"
        )
    parts.append(_nnd_score_duck("p0", "0"))
    parts.append(_nnd_score_duck("p1", "1"))
    parts.append(_nnd_score_duck("p2", "2"))
    parts.append(
        "qs AS (SELECT vec_id AS q FROM embeddings WHERE "
        + T.hashed_id_duck(
            f"('{_HN_QSALT}' || CAST(vec_id AS VARCHAR))", _GS_QMOD
        )
        + " = 0)"
    )
    parts.append(
        "ep AS (SELECT COALESCE("
        "(SELECT MIN(vec_id) FROM lv WHERE h = 0), "
        "(SELECT MIN(vec_id) FROM lv WHERE h % 4 = 0), "
        "(SELECT MIN(vec_id) FROM embeddings)) AS ep)"
    )
    parts.append(
        "s2 AS (SELECT DISTINCT q, v FROM ("
        "SELECT qs.q, e2.v FROM qs, ep JOIN e2 ON e2.u = ep.ep "
        "UNION ALL SELECT qs.q, ep.ep AS v FROM qs, ep))"
    )
    parts.append(_gs_score_duck("s2", "a"))
    parts.append(_hn_top1("gva", "c2"))
    parts.append(
        "s1 AS (SELECT DISTINCT q, v FROM ("
        "SELECT c2.q, e1.v FROM c2 JOIN e1 ON e1.u = c2.v "
        "UNION ALL SELECT q, v FROM c2))"
    )
    parts.append(_gs_score_duck("s1", "b"))
    parts.append(_hn_top1("gvb", "c1"))
    parts.append(
        "s0 AS (SELECT DISTINCT q, v FROM ("
        "SELECT c1.q, e0.v FROM c1 JOIN e0 ON e0.u = c1.v "
        "UNION ALL SELECT q, v FROM c1) WHERE v <> q)"
    )
    parts.append(_gs_score_duck("s0", "0"))
    parts.append("vis0 AS (SELECT q, v, cos FROM gv0)")
    for k in range(1, _GS_HOPS + 1):
        p = k - 1
        parts.append(f"f{k} AS {_gs_rank(f'vis{p}', _GS_BEAM)}")
        parts.append(
            f"n{k} AS (SELECT DISTINCT f.q AS q, e0.v AS v FROM f{k} f "
            "JOIN e0 ON e0.u = f.v WHERE e0.v <> f.q)"
        )
        parts.append(_gs_score_duck(f"n{k}", str(k)))
        parts.append(
            f"vis{k} AS (SELECT DISTINCT q, v, cos FROM ("
            f"SELECT q, v, cos FROM vis{p} "
            f"UNION ALL SELECT q, v, cos FROM gv{k}))"
        )
    last = f"vis{_GS_HOPS}"
    parts.append(f"bt AS {_gs_rank(last, _GS_TOPR)}")
    parts.append(
        "pxq AS (SELECT qs.q AS q, e.vec_id AS v FROM qs "
        "JOIN embeddings e ON e.vec_id <> qs.q)"
    )
    parts.append(_gs_score_duck("pxq", "x"))
    parts.append(f"ex AS {_gs_rank('gvx', _GS_TOPR)}")
    parts.append(
        f"nvis AS (SELECT q, COUNT(*) AS n_visited FROM {last} GROUP BY q)"
    )
    parts.append(
        "ht AS (SELECT bt.q, COUNT(*) AS hits FROM bt "
        "JOIN ex ON ex.q = bt.q AND ex.v = bt.v GROUP BY bt.q)"
    )
    return _mat_ctes(
        "WITH " + ", ".join(parts) + " "
        "SELECT qs.q AS vec_id, c2.v AS l2_node, c1.v AS l1_node, "
        "CAST(COALESCE(nvis.n_visited, 0) AS BIGINT) AS n_visited, "
        "CAST(COALESCE(ht.hits, 0) AS BIGINT) AS hits, "
        + rnd(
            f"CAST(COALESCE(ht.hits, 0) AS DOUBLE) / {_GS_TOPR}.0e0", 4
        )
        + " AS recall_at10 "
        "FROM qs JOIN c2 ON c2.q = qs.q JOIN c1 ON c1.q = qs.q "
        "LEFT JOIN nvis ON nvis.q = qs.q LEFT JOIN ht ON ht.q = qs.q",
        (
            "z", "nrm", "proj", "lv", "bk0", "bk1",
            "e0", "e1", "e2", "qs", "c2", "c1",
            "vis0", "vis1", "vis2",
        ),
    )


@query("embed_hnsw_search", oracle=_hnsw_oracle())
def embed_hnsw_search(spark, sf_dir):
    """HNSW-style HIERARCHICAL search — the layered structure the flat
    beam walk (embed_graph_search_recall) approximates: nodes draw
    geometric levels (deterministic content-keyed hash: 1/4 of the
    corpus reaches layer 1, 1/16 layer 2, nested like HNSW's random
    level law), each layer carries its own LSH-seeded kNN graph built
    by the SAME _init_knn_edges code as the base graph, and a query
    descends — enter at the top layer's deterministic entry point,
    greedy-hop one step through the layer-2 graph, one step through
    layer 1, then run the IDENTICAL layer-0 beam walk (_beam_audit,
    shared code) seeded by the waypoint's adjacency instead of the
    query node's own. Reports the full descent (l2/l1 waypoints) plus
    visited count and exact recall@10 per query, so the gate pins the
    layer assignment, all three graphs, both greedy steps, and the
    walk.

    Scale shape: upper layers are geometric fractions of the corpus
    with the SAME O(n) bucketed construction (never all-pairs); the
    descent frontier is K-bounded per query; every descent/walk join
    broadcasts the query-batch side; the exact truth is query-batch x
    corpus (the audit-on-a-slice shape). At 100 TB the upper layers'
    value is exactly their production value: the entry point reaches a
    good neighborhood in O(log n) bounded hops without scanning."""
    emb = T.materialize(
        T.spread_small_scan(
            _emb(spark, sf_dir).select("vec_id", "embedding"),
            spark,
            f"{sf_dir}/embeddings.parquet",
        )
    )
    n = emb.count()
    nrm = T.materialize(
        emb.select(
            "vec_id",
            F.expr(_DOT.format(a="embedding", b="embedding")).alias("n2"),
        )
    )
    h = _hn_h_spark()
    l1 = emb.filter(F.expr(f"{h} % 4 = 0"))
    l2 = emb.filter(F.expr(f"{h} = 0"))
    nrm1 = nrm.filter(F.expr(f"{h} % 4 = 0"))
    nrm2 = nrm.filter(F.expr(f"{h} = 0"))
    e0 = T.materialize(_init_knn_edges(emb, nrm, n))
    e1 = T.materialize(_init_knn_edges(l1, nrm1, l1.count()))
    e2 = T.materialize(_init_knn_edges(l2, nrm2, l2.count()))
    qs = T.materialize(
        emb.join(nrm, "vec_id")
        .filter(
            F.expr(
                T.hashed_id_spark(
                    f"concat('{_HN_QSALT}', CAST(vec_id AS STRING))",
                    _GS_QMOD,
                )
            )
            == 0
        )
        .select(
            F.col("vec_id").alias("q"),
            F.col("embedding").alias("qe"),
            F.col("n2").alias("n2q"),
        )
    )
    # deterministic entry point: min id of the highest nonempty layer
    # (three 1-row aggregates crossJoined — never data-sized)
    entry = (
        l2.agg(F.min("vec_id").alias("m2"))
        .crossJoin(l1.agg(F.min("vec_id").alias("m1")))
        .crossJoin(emb.agg(F.min("vec_id").alias("m0")))
        .select(F.expr("COALESCE(m2, m1, m0)").alias("ep"))
    )
    ev = emb.select(F.col("vec_id").alias("v"), F.col("embedding").alias("ev"))
    score = _gs_score(qs, ev)
    w1 = Window.partitionBy("q").orderBy(F.desc("cos"), F.asc("v"))

    def top1(scored, name):
        return T.materialize(
            scored.withColumn("rk", F.row_number().over(w1))
            .filter(F.col("rk") == 1)
            .select("q", F.col("v").alias(name))
        )

    s2 = (
        F.broadcast(entry)
        .join(e2, F.col("ep") == F.col("u"), "left")
        .select(F.coalesce("v", "ep").alias("v"))
        .union(entry.select(F.col("ep").alias("v")))
        .distinct()
    )
    c2 = top1(
        score(qs.select("q").crossJoin(F.broadcast(s2))), "l2"
    )
    s1 = (
        F.broadcast(c2)
        .join(e1, F.col("l2") == F.col("u"), "left")
        .select("q", F.coalesce("v", "l2").alias("v"))
        .union(c2.select("q", F.col("l2").alias("v")))
        .distinct()
    )
    c1 = top1(score(s1), "l1")
    seed0 = (
        F.broadcast(c1)
        .join(e0, F.col("l1") == F.col("u"), "left")
        .select("q", F.coalesce("v", "l1").alias("v"))
        .union(c1.select("q", F.col("l1").alias("v")))
        .filter(F.col("v") != F.col("q"))
        .distinct()
    )
    res = _beam_audit(emb, e0, qs, seed0)
    return (
        res.join(F.broadcast(c2), res.vec_id == c2.q)
        .join(F.broadcast(c1), res.vec_id == c1.q)
        .select(
            "vec_id",
            F.col("l2").alias("l2_node"),
            F.col("l1").alias("l1_node"),
            "n_visited",
            "hits",
            "recall_at10",
        )
    )
