"""Per-label embedding cohesion: centroid norm and mean member-to-
centroid cosine per label — the embedding-space QA dashboard a labeled
corpus (classifier training data, dedup clusters, topic buckets) is
checked with before anyone trains on it: a label whose members barely
point at their own centroid is noise, two labels whose centroids
coincide are a merge candidate.

Float discipline for a FLOAT-typed vector column: per-dimension values
are integerised (floor(x * 1e6)) BEFORE the cross-row sum, so the
centroid numerators are exact BIGINTs in any partition order; the
centroid itself is then reconstructed as double from those integer
sums, and each member's dot/norm folds run IN-ROW over the fixed dim
order 1..64 (deterministic left-to-right in both engines), floored to
micro before the per-label mean.

100 TB story: the per-(label, dim) sum is one map-side-combined
groupBy with labels x 64 output rows; centroids rebuild per label from
64 rows and BROADCAST back onto the embedding scan; the member pass is
zero-shuffle; the final rollup is label-table-sized. No floats cross
an exchange un-integerised, no window, no Python.

Reference analog: none (SURVEY.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..artifacts import Memo
from . import constants as C, read_spread


def q_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_spread(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        F.posexplode(
            F.expr(
                "transform(embedding,"
                " v -> cast(floor(cast(v as double) * 1000000)"
                " as bigint))"
            )
        ).alias("dim", "md"),
    )
    sums = dims.groupBy("label", "dim").agg(
        F.sum("md").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    cents = sums.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, s))),"
            " p -> p.s)"
        ).alias("cs"),
        F.max("n").alias("n_vecs"),
    )
    scored = (
        emb.join(F.broadcast(cents), "label")
        .select(
            "label",
            "n_vecs",
            # centroid dim d (double): cs[d] / n / 1e6; folds over the
            # fixed dim order are in-row and deterministic
            F.expr(
                f"""cast(floor(
                    aggregate(sequence(1, {C.EMB_DIM}), cast(0.0 as double),
                        (acc, i) -> acc
                            + cast(element_at(embedding, i) as double)
                            * (element_at(cs, i) / cast(n_vecs as double)
                               / 1000000.0))
                    / (sqrt(aggregate(sequence(1, {C.EMB_DIM}),
                            cast(0.0 as double),
                            (acc, i) -> acc
                                + cast(element_at(embedding, i) as double)
                                * cast(element_at(embedding, i) as double)))
                       * sqrt(aggregate(sequence(1, {C.EMB_DIM}),
                            cast(0.0 as double),
                            (acc, i) -> acc
                                + (element_at(cs, i)
                                   / cast(n_vecs as double) / 1000000.0)
                                * (element_at(cs, i)
                                   / cast(n_vecs as double) / 1000000.0))))
                    * 1000000) as bigint)"""
            ).alias("cos_micro"),
            F.expr(
                f"""cast(floor(
                    sqrt(aggregate(sequence(1, {C.EMB_DIM}),
                        cast(0.0 as double),
                        (acc, i) -> acc
                            + (element_at(cs, i)
                               / cast(n_vecs as double) / 1000000.0)
                            * (element_at(cs, i)
                               / cast(n_vecs as double) / 1000000.0)))
                    * 1000000) as bigint)"""
            ).alias("cnorm_micro"),
        )
    )
    return scored.groupBy("label").agg(
        F.max("n_vecs").alias("n_vecs"),
        F.max("cnorm_micro").alias("centroid_norm_micro"),
        F.expr(
            "round(sum(cos_micro) / cast(count(*) as double)"
            " / 1000000.0, 6)"
        ).alias("mean_cos"),
    )


def sql_label_cohesion() -> str:
    d = C.EMB_DIM
    cd = "(cs[i] / n_vecs::DOUBLE / 1000000.0)"
    dot = (
        f"list_sum(list_transform(generate_series(1, {d}),"
        f" i -> embedding[i]::DOUBLE * {cd}))"
    )
    nv = (
        f"list_sum(list_transform(generate_series(1, {d}),"
        f" i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))"
    )
    nc = (
        f"list_sum(list_transform(generate_series(1, {d}),"
        f" i -> {cd} * {cd}))"
    )
    return f"""
        WITH dims AS (
            SELECT label, i AS dim,
                   floor(embedding[i]::DOUBLE * 1000000)::BIGINT AS md
            FROM embeddings,
                 unnest(generate_series(1, {d})) AS t(i)
        ),
        sums AS (
            SELECT label, dim, SUM(md)::BIGINT AS s,
                   COUNT(*)::BIGINT AS n
            FROM dims GROUP BY label, dim
        ),
        cents AS (
            SELECT label,
                   list(s ORDER BY dim) AS cs,
                   MAX(n) AS n_vecs
            FROM sums GROUP BY label
        ),
        scored AS (
            SELECT e.label, n_vecs,
                   floor({dot} / (sqrt({nv}) * sqrt({nc}))
                         * 1000000)::BIGINT AS cos_micro,
                   floor(sqrt({nc}) * 1000000)::BIGINT AS cnorm_micro
            FROM embeddings e JOIN cents USING (label)
        )
        SELECT label,
               MAX(n_vecs) AS n_vecs,
               MAX(cnorm_micro) AS centroid_norm_micro,
               round(SUM(cos_micro) / COUNT(*)::DOUBLE / 1000000.0, 6)
                   AS mean_cos
        FROM scored GROUP BY label
    """


def q_emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health census: n_zero (dead-dimension
    signal), exact min/max in micro units, mean and RMS per dim — the
    first dashboard run on any new embedding dump (a dim that is zero
    everywhere means a truncated export; a dim whose RMS dwarfs the
    others breaks cosine geometry).

    Float discipline: values integerise in-row (floor(x*1e6) for
    sums/extremes, floor(x*1e3) for the squared term so Σq² stays
    within BIGINT to ~9e12 vectors) BEFORE any cross-row aggregation,
    so every aggregate is an exact integer in any partition order;
    mean/RMS are derived from those exact integers at the very end.

    100 TB story: posexplode fans each row to 64, but the groupBy key
    is the 64-value dim id, so partial (map-side) aggregation collapses
    every partition to <=64 rows before the one exchange; the output is
    64 rows. No window, no Python, no floats across the exchange.
    Reference analog: none (SURVEY.md §2.8)."""
    emb = read_spread(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode(
            F.expr(
                "transform(embedding, v -> struct("
                " cast(floor(cast(v as double) * 1000000) as bigint)"
                "   as md,"
                " cast(floor(cast(v as double) * 1000) as bigint)"
                "   as mq))"
            )
        ).alias("pos", "m"),
    ).select(
        (F.col("pos") + F.lit(1)).alias("dim"),
        F.col("m.md").alias("md"),
        F.col("m.mq").alias("mq"),
    )
    return (
        dims.groupBy("dim")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum(F.expr("cast(md = 0 as bigint)")).cast("bigint")
            .alias("n_zero"),
            F.min("md").cast("bigint").alias("min_micro"),
            F.max("md").cast("bigint").alias("max_micro"),
            F.sum("md").cast("bigint").alias("sum_micro"),
            F.sum(F.expr("mq * mq")).cast("bigint").alias("sumsq_milli"),
        )
        .select(
            "dim", "n_vecs", "n_zero", "min_micro", "max_micro",
            F.expr(
                "round(sum_micro / cast(n_vecs as double)"
                " / 1000000.0, 6)"
            ).alias("mean"),
            F.expr(
                "round(sqrt(sumsq_milli / cast(n_vecs as double))"
                " / 1000.0, 6)"
            ).alias("rms"),
        )
    )


def sql_emb_dim_stats() -> str:
    d = C.EMB_DIM
    return f"""
        WITH dims AS (
            SELECT i AS dim,
                   floor(embedding[i]::DOUBLE * 1000000)::BIGINT AS md,
                   floor(embedding[i]::DOUBLE * 1000)::BIGINT AS mq
            FROM embeddings,
                 unnest(generate_series(1, {d})) AS t(i)
        ),
        aggd AS (
            SELECT dim,
                   COUNT(*)::BIGINT AS n_vecs,
                   SUM(CASE WHEN md = 0 THEN 1 ELSE 0 END)::BIGINT
                       AS n_zero,
                   MIN(md)::BIGINT AS min_micro,
                   MAX(md)::BIGINT AS max_micro,
                   SUM(md)::BIGINT AS sum_micro,
                   SUM(mq * mq)::BIGINT AS sumsq_milli
            FROM dims GROUP BY dim
        )
        SELECT dim, n_vecs, n_zero, min_micro, max_micro,
               round(sum_micro / n_vecs::DOUBLE / 1000000.0, 6) AS mean,
               round(sqrt(sumsq_milli / n_vecs::DOUBLE) / 1000.0, 6)
                   AS rms
        FROM aggd
    """


NORM_BANDS = 16
_NORM_BAND_MICRO = 250_000  # 0.25 L2 units per band, clamps at band 15


def q_emb_norm_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2-norm histogram in fixed 0.25-wide bands (clamped
    at band 15 = norm >= 3.75) — the corrupt-vector detector: a
    normalized embedding dump lives in one band; zero-norm rows are a
    truncated export, heavy tails an encoder bug.

    Float discipline: the squared norm folds IN-ROW over the fixed dim
    order (deterministic left-to-right in both engines), the norm is
    floored to micro units, banded by integer division — nothing
    float crosses a row boundary.

    100 TB story: zero-shuffle expression scan + one 16-key map-side-
    combined groupBy; output <= 16 rows."""
    emb = read_spread(spark, sf_dir, "embeddings")
    norm = (
        f"cast(floor(sqrt(aggregate(sequence(1, {C.EMB_DIM}),"
        " cast(0.0 as double),"
        " (acc, i) -> acc + cast(element_at(embedding, i) as double)"
        " * cast(element_at(embedding, i) as double)))"
        " * 1000000) as bigint)"
    )
    return (
        emb.select(F.expr(norm).alias("norm_micro"))
        .select(
            F.expr(
                f"least(cast({NORM_BANDS - 1} as bigint),"
                f" norm_micro div {_NORM_BAND_MICRO})"
            ).alias("band"),
            "norm_micro",
        )
        .groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.min("norm_micro").cast("bigint").alias("min_norm_micro"),
            F.max("norm_micro").cast("bigint").alias("max_norm_micro"),
        )
    )


def sql_emb_norm_hist() -> str:
    d = C.EMB_DIM
    norm = (
        f"floor(sqrt(list_sum(list_transform(generate_series(1, {d}),"
        f" i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))"
        f" * 1000000)::BIGINT"
    )
    return f"""
        WITH norms AS (
            SELECT {norm} AS norm_micro FROM embeddings
        )
        SELECT least({NORM_BANDS - 1},
                     norm_micro // {_NORM_BAND_MICRO})::BIGINT AS band,
               COUNT(*)::BIGINT AS n_vecs,
               MIN(norm_micro)::BIGINT AS min_norm_micro,
               MAX(norm_micro)::BIGINT AS max_norm_micro
        FROM norms GROUP BY 1
    """


def q_emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangular covariance matrix of the embedding corpus —
    the input to PCA/whitening/anisotropy checks (a dominant
    off-diagonal block means the embedding space is rank-deficient and
    cosine retrieval degrades). One row per dim pair (i <= j) with
    exact integer sufficient statistics and the derived covariance.

    Float discipline: components integerise in-row to milli
    (floor(x*1e3), the emb_dim_stats squared-term scale) BEFORE the
    pairwise products, so Σxy, Σx, Σy are exact BIGINTs in any
    partition order; covariance derives from them at the end
    (cov_micro = the exact milli² sums combined in one double step,
    rounded — bit-deterministic from identical integers). BIGINT bound:
    |x|<=~6 → |pxy| <= 3.6e7, safe to ~2.5e11 vectors per sum; a
    10^12-vector run widens the partials to DECIMAL(38) or sums per
    shard first — noted, not needed at any test sf.

    100 TB story: the per-row expansion emits DIM*(DIM+1)/2 = 2080
    product terms per vector, but the groupBy key is the (i, j) pair —
    a CONSTANT 2080-key space — so map-side partial aggregation
    collapses every partition to <=2080 rows before the single
    exchange; output is 2080 rows at any corpus size. No window, no
    Python, no un-integerised float crosses the exchange.
    Reference analog: none (SURVEY.md §2.8)."""
    d = C.EMB_DIM
    emb = read_spread(spark, sf_dir, "embeddings")
    # bind the milli-quantized vector ONCE per row, then expand the
    # upper triangle from it (subscripts are 0-based in Spark SQL)
    xm = emb.select(
        F.expr(
            "transform(embedding, v ->"
            " cast(floor(cast(v as double) * 1000) as bigint))"
        ).alias("xm")
    )
    pairs = xm.select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(0, {d - 1}), i ->"
                f" transform(sequence(i, {d - 1}), j -> struct("
                " i, j,"
                " xm[i] * xm[j] as pxy, xm[i] as px, xm[j] as py))))"
            )
        ).alias("p")
    ).select(
        F.col("p.i").cast("bigint").alias("i"),
        F.col("p.j").cast("bigint").alias("j"),
        "p.pxy", "p.px", "p.py",
    )
    return (
        pairs.groupBy("i", "j")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum("pxy").cast("bigint").alias("sum_pxy_milli2"),
            F.sum("px").cast("bigint").alias("sum_px_milli"),
            F.sum("py").cast("bigint").alias("sum_py_milli"),
        )
        .select(
            "i", "j", "n_vecs",
            "sum_pxy_milli2", "sum_px_milli", "sum_py_milli",
            F.expr(
                "cast(round((sum_pxy_milli2 - sum_px_milli *"
                " sum_py_milli / cast(n_vecs as double))"
                " / (n_vecs - 1)) as bigint)"
            ).alias("cov_micro"),
        )
    )


def sql_emb_covariance() -> str:
    d = C.EMB_DIM
    xm = (
        "list_transform(embedding,"
        " v -> floor(v::DOUBLE * 1000)::BIGINT)"
    )
    return f"""
        WITH xm AS (
            SELECT vec_id, {xm} AS m FROM embeddings
        ),
        pairs AS (
            SELECT unnest(flatten(list_transform(range(0, {d}), i ->
                       list_transform(range(i, {d}), j -> {{
                           'i': i, 'j': j,
                           'pxy': m[i + 1] * m[j + 1],
                           'px': m[i + 1], 'py': m[j + 1]}}))))
                   AS p
            FROM xm
        )
        SELECT (p.i)::BIGINT AS i, (p.j)::BIGINT AS j,
               COUNT(*)::BIGINT AS n_vecs,
               SUM(p.pxy)::BIGINT AS sum_pxy_milli2,
               SUM(p.px)::BIGINT AS sum_px_milli,
               SUM(p.py)::BIGINT AS sum_py_milli,
               round((SUM(p.pxy)::BIGINT - SUM(p.px)::BIGINT *
                      SUM(p.py)::BIGINT / COUNT(*)::DOUBLE)
                     / (COUNT(*) - 1))::BIGINT AS cov_micro
        FROM pairs GROUP BY p.i, p.j
    """


def emb_pca(spark: SparkSession, sf_dir: str, top_k: int = 8):
    """PCA over the distributed covariance: eigendecomposition of the
    64x64 matrix assembled from q_emb_covariance's exact integer
    statistics. The matrix is DIM^2 doubles — metadata scale, so the
    eigensolve runs driver-side on the collected 2080 rows (the same
    audited-collect class as the k-means centroid step,
    similarity.py); everything corpus-sized stayed distributed in the
    covariance pass.

    Returns (eigvals_desc, components, explained_ppm): eigenvalues in
    micro units descending, the top_k eigenvectors (rows), and the
    per-component explained-variance fraction in ppm (integerised so
    downstream checks are exact). Non-SQL-expressible (eigensolve) —
    verified against numpy in pytest rather than the DuckDB gate.
    """
    import numpy as np

    rows = q_emb_covariance(spark, sf_dir).collect()  # 2080 rows
    d = C.EMB_DIM
    cov = np.zeros((d, d), dtype=np.float64)
    for r in rows:
        i, j = int(r["i"]), int(r["j"])
        cov[i, j] = cov[j, i] = float(r["cov_micro"])
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1]
    vals = vals[order]
    vecs = vecs[:, order]
    total = float(vals.sum()) or 1.0
    explained_ppm = [int(v / total * 1_000_000) for v in vals[:top_k]]
    return vals, vecs[:, :top_k].T, explained_ppm


def whiten_expr(components, eigvals_micro, top_k: int = 8) -> str:
    """Spark expression projecting `embedding` onto the top_k PCA
    components and scaling by 1/sqrt(eigval) (whitening) — a per-row
    zero-shuffle array expression built from the BROADCAST (driver-
    literal) component matrix, the standard serving-side transform
    once PCA has been fit."""
    terms = []
    for k in range(top_k):
        dot = " + ".join(
            f"cast(embedding[{i}] as double) * {components[k][i]!r}"
            for i in range(len(components[k]))
        )
        scale = 1.0 / (float(eigvals_micro[k]) ** 0.5 or 1.0)
        terms.append(f"({dot}) * {scale!r}")
    return "array(" + ", ".join(terms) + ")"


# ---------------------------------------------------------------------------
# Gate-verified PCA variance check: c^T Sigma c vs the committed eigenvalue
# ---------------------------------------------------------------------------

def _pca_artifact(sf_dir: str) -> dict:
    from . import artifact_path, read_artifact

    art = read_artifact(sf_dir, "pca")
    if art is None:
        raise FileNotFoundError(
            f"{artifact_path(sf_dir, 'pca')} missing — run tools/gen_pca.py"
        )
    return art


def q_emb_pca_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA verification INSIDE the gate: for each committed principal
    component c_k (tools/gen_pca.py artifact, milli-quantized), the
    corpus variance along that direction via the quadratic-form
    identity var_k = c_k^T Sigma c_k over the exact-integer covariance
    table — which must reproduce the committed eigenvalue up to the
    milli quantization of the components. One row per component:
    identity-derived variance, artifact eigenvalue, their difference,
    and the explained-variance fraction.

    Float discipline: contributions are exact BIGINTs (milli component
    weights x milli component weights x micro covariance <= ~4e13 per
    term, ~8.6e16 summed over the 2080 pairs); the single double step
    is the final /1e6 rescale, identical in both engines. The
    eigensolve itself never runs in the gate — only its committed
    artifact does, so the check is SQL-expressible end to end.

    100 TB story: rides q_emb_covariance (2080-row output at ANY corpus
    size — the only corpus-sized pass, map-side combined onto the
    constant (i, j) key space); the per-component expansion and rollup
    run over 2080 x top_k rows — metadata scale.
    Reference analog: none (SURVEY.md §2.8)."""
    art = _pca_artifact(sf_dir)
    comps = art["components_milli"]
    eig = art["eigvals_micro"]
    ppm = art["explained_ppm"]
    k = len(comps)
    comp_lit = "array(" + ", ".join(
        "array(" + ", ".join(f"{v}L" for v in row) + ")" for row in comps
    ) + ")"
    eig_lit = "array(" + ", ".join(f"{v}L" for v in eig) + ")"
    ppm_lit = "array(" + ", ".join(f"{v}L" for v in ppm) + ")"
    cov = q_emb_covariance(spark, sf_dir).select("i", "j", "cov_micro")
    contrib = cov.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, {k - 1}), k -> struct("
                " k as comp,"
                f" (case when i = j then 1 else 2 end)"
                f" * element_at(element_at({comp_lit}, cast(k as int) + 1),"
                "               cast(i as int) + 1)"
                f" * element_at(element_at({comp_lit}, cast(k as int) + 1),"
                "               cast(j as int) + 1)"
                " * cov_micro as raw))"
            )
        ).alias("p")
    ).select(F.col("p.comp").cast("bigint").alias("comp"), "p.raw")
    agg = contrib.groupBy("comp").agg(
        F.sum("raw").cast("bigint").alias("raw_sum")
    )
    return agg.select(
        "comp",
        F.expr("cast(round(raw_sum / 1000000.0) as bigint)").alias(
            "var_micro"
        ),
        F.expr(
            f"element_at({eig_lit}, cast(comp as int) + 1)"
        ).alias("eigval_micro"),
        F.expr(
            f"cast(round(raw_sum / 1000000.0) as bigint)"
            f" - element_at({eig_lit}, cast(comp as int) + 1)"
        ).alias("diff_micro"),
        F.expr(
            f"element_at({ppm_lit}, cast(comp as int) + 1)"
        ).alias("explained_ppm"),
    )


def sql_emb_pca_var(sf_dir: str = "/root/testdata/sf0.01") -> str:
    art = _pca_artifact(sf_dir)
    comps = art["components_milli"]
    eig = art["eigvals_micro"]
    ppm = art["explained_ppm"]
    k = len(comps)
    comp_lit = "[" + ", ".join(
        "[" + ", ".join(f"{v}::BIGINT" for v in row) + "]" for row in comps
    ) + "]"
    eig_lit = "[" + ", ".join(f"{v}::BIGINT" for v in eig) + "]"
    ppm_lit = "[" + ", ".join(f"{v}::BIGINT" for v in ppm) + "]"
    return f"""
        WITH cov AS (
            SELECT i, j, cov_micro FROM ({sql_emb_covariance()})
        ),
        contrib AS (
            SELECT unnest(list_transform(range(0, {k}), k -> {{
                       'comp': k,
                       'raw': (CASE WHEN i = j THEN 1 ELSE 2 END)
                              * {comp_lit}[k + 1][i::INT + 1]
                              * {comp_lit}[k + 1][j::INT + 1]
                              * cov_micro}})) AS p
            FROM cov
        ),
        agg AS (
            SELECT (p.comp)::BIGINT AS comp,
                   SUM(p.raw)::BIGINT AS raw_sum
            FROM contrib GROUP BY 1
        )
        SELECT comp,
               round(raw_sum / 1000000.0)::BIGINT AS var_micro,
               {eig_lit}[comp::INT + 1] AS eigval_micro,
               round(raw_sum / 1000000.0)::BIGINT
                   - {eig_lit}[comp::INT + 1] AS diff_micro,
               {ppm_lit}[comp::INT + 1] AS explained_ppm
        FROM agg
    """


# ---------------------------------------------------------------------------
# Embedding outlier census: exact distance-from-centroid in scaled integers
# ---------------------------------------------------------------------------

EMB_OUTLIER_TOPK = 16


def q_emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K embedding outliers by squared Euclidean distance from the
    corpus mean — the vectors a curation run inspects first (encoder
    failures, truncated inputs, off-distribution content; SemDeDup-style
    pipelines prune extreme outliers before clustering).

    Exactness without a float mean: with x quantized to milli ints and
    S_d = sum over the corpus of x_d, the scaled squared distance
    sum_d (x_d * n - S_d)^2 is an exact BIGINT identical in any
    partition order and any engine — n^2 * ||x - mean||^2 without ever
    materializing the non-integer mean. Bound: |x_d*n - S_d| <=
    ~2*6e3*n per dim, so the 64-dim sum is <= 64 * (1.2e4)^2 * n^2 =
    9.2e9 * n^2, which stays inside BIGINT (9.22e18) to
    n ~= sqrt(9.22e18 / 9.2e9) ~= 3.2e4 vectors per stats group;
    beyond that production drops to centi quantization or per-shard
    means (same discipline as emb_covariance's documented widening).

    100 TB story: TWO passes — a 65-value constant-key agg for (n, S_d)
    broadcast back, then a per-row fold + TakeOrdered top-K; no window,
    no corpus-sized shuffle."""
    d = C.EMB_DIM
    emb = read_spread(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, v ->"
            " cast(floor(cast(v as double) * 1000) as bigint))"
        ).alias("xm"),
    )
    sums = emb.select(
        F.posexplode("xm").alias("d", "x")
    ).groupBy("d").agg(F.sum("x").cast("bigint").alias("s"))
    svec = sums.groupBy().agg(
        F.expr("transform(array_sort(collect_list(struct(d, s))),"
               " p -> p.s)").alias("sv"),
    )
    n_row = emb.agg(F.count("*").cast("bigint").alias("n")).crossJoin(
        F.broadcast(svec)
    )
    j = emb.crossJoin(F.broadcast(n_row))
    dist = j.select(
        "vec_id",
        F.expr(
            f"aggregate(sequence(1, {d}), cast(0 as bigint),"
            " (acc, i) -> acc"
            " + (element_at(xm, i) * n - element_at(sv, i))"
            " * (element_at(xm, i) * n - element_at(sv, i)))"
        ).alias("scaled_d2"),
    )
    top = dist.orderBy(
        F.desc("scaled_d2"), F.asc("vec_id")
    ).limit(EMB_OUTLIER_TOPK)
    w = Window.orderBy(F.desc("scaled_d2"), F.asc("vec_id"))
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "vec_id",
        "scaled_d2",
    )


def sql_emb_outliers() -> str:
    d = C.EMB_DIM
    return f"""
        WITH xm AS (
            SELECT vec_id,
                   list_transform(embedding,
                       v -> floor(v::DOUBLE * 1000)::BIGINT) AS xm
            FROM embeddings
        ),
        sums AS (
            SELECT i AS d, SUM(xm[i])::BIGINT AS s
            FROM xm, unnest(generate_series(1, {d})) AS t(i)
            GROUP BY i
        ),
        sv AS (
            SELECT list(s ORDER BY d) AS sv FROM sums
        ),
        n AS (SELECT COUNT(*)::BIGINT AS n FROM xm),
        dist AS (
            SELECT vec_id,
                   list_sum(list_transform(generate_series(1, {d}),
                       i -> (xm[i] * n - sv[i]) * (xm[i] * n - sv[i])
                   ))::BIGINT AS scaled_d2
            FROM xm CROSS JOIN sv CROSS JOIN n
        )
        SELECT row_number() OVER (
                   ORDER BY scaled_d2 DESC, vec_id ASC
               )::BIGINT AS rank,
               vec_id, scaled_d2
        FROM dist
        ORDER BY scaled_d2 DESC, vec_id ASC
        LIMIT {EMB_OUTLIER_TOPK}
    """


# ---------------------------------------------------------------------------
# k-center greedy coreset selection
# ---------------------------------------------------------------------------

KCENTER_K = 8

# memoized per-(session, sf) integerised embedding projection
_MEMO = Memo("cohesion")


def _md_spark() -> str:
    """Micro-integerised embedding: floor(v * 1e6) per dim — squared L2
    distances between md vectors are EXACT BIGINT arithmetic (the
    emb_outliers identity discipline), so farthest-point ties break
    identically in both engines."""
    return (
        "transform(embedding, v -> cast(floor(cast(v as double)"
        " * 1000000) as bigint))"
    )


def _md_duck() -> str:
    return (
        f"list_transform(embedding, v -> floor(v::DOUBLE * 1000000)"
        f"::BIGINT)"
    )


def _d2_spark(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " cast(0 as bigint), (acc, t) -> acc + t)"
    )


def _d2_duck(a: str, b: str, dim: int) -> str:
    return (
        f"list_sum(list_transform(range(1, {dim + 1}),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def q_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (Gonzalez 1985; the facility-location
    data-selection recipe): seed with vec 0, then {KCENTER_K - 1}
    times add the point FARTHEST from the selected set (exact integer
    micro-L2², deterministic vec_id tie-break, already-picked points
    excluded so a corpus with fewer than K distinct vectors still
    yields K distinct picks). Output: selection rank, the chosen
    vector, and the coverage radius (its min-dist² when chosen — the
    k-center objective, non-increasing by construction).

    The plan is the honest cost of k-center made explicit: the
    integerised projection is persisted ONCE, and each of the K-1
    rounds is a single pass over it — the round's dmin folds the
    least() over all centers picked so far as broadcast LITERALS, and
    the argmax is a TakeOrderedAndProject collecting exactly one row
    (the k-means-centroid driver-collect precedent: driver state is
    the K selected rows, never corpus data). No |corpus| x |corpus|
    distance matrix ever forms. Reference analog: none
    (SURVEY.md §2.8)."""
    e = _MEMO.fetch(
        spark, sf_dir, "kcenter_md",
        build=lambda: read_spread(spark, sf_dir, "embeddings").select(
            "vec_id", F.expr(_md_spark()).alias("md")
        ),
    )

    def lit_md(vals):
        return "array(" + ", ".join(f"{v}L" for v in vals) + ")"

    seeds = e.orderBy(F.asc("vec_id")).limit(1).collect()
    if not seeds:
        return spark.createDataFrame(
            [], "rank bigint, vec_id bigint, min_dist2 bigint"
        )
    seed = seeds[0]
    centers = [(seed["vec_id"], list(seed["md"]), -1)]
    for _ in range(2, KCENTER_K + 1):
        dmin = "least(" + ", ".join(
            _d2_spark("md", lit_md(md)) for _, md, _ in centers
        ) + ")" if len(centers) > 1 else _d2_spark(
            "md", lit_md(centers[0][1])
        )
        picked = ", ".join(str(v) for v, _, _ in centers)
        cands = (
            e.where(f"vec_id NOT IN ({picked})")
            .select("vec_id", "md", F.expr(dmin).alias("dmin"))
            .orderBy(F.desc("dmin"), F.asc("vec_id"))
            .limit(1)
            .collect()
        )
        if not cands:
            # fewer than K vectors in the corpus: emit however many
            # centers exist, matching the DuckDB CTE chain's behavior
            break
        far = cands[0]
        centers.append((far["vec_id"], list(far["md"]), far["dmin"]))
    rows = [
        (rk + 1, int(vid), int(d)) for rk, (vid, _, d) in enumerate(centers)
    ]
    return spark.createDataFrame(
        rows, "rank bigint, vec_id bigint, min_dist2 bigint"
    )


def sql_coreset_kcenter() -> str:
    dim = C.EMB_DIM
    parts = [f"""e AS MATERIALIZED (
            SELECT vec_id, {_md_duck()} AS md FROM embeddings
        ),
        s1 AS MATERIALIZED (
            SELECT vec_id AS c_vid, md AS c_md, -1::BIGINT AS c_d
            FROM e ORDER BY vec_id ASC LIMIT 1
        ),
        d1 AS MATERIALIZED (
            SELECT e.vec_id, e.md,
                   {_d2_duck('e.md', 's1.c_md', dim)} AS dmin
            FROM e CROSS JOIN s1
        )"""]
    for rk in range(2, KCENTER_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT c_vid FROM s{j}" for j in range(1, rk)
        )
        parts.append(f"""s{rk} AS MATERIALIZED (
            SELECT vec_id AS c_vid, md AS c_md, dmin::BIGINT AS c_d
            FROM d{rk - 1}
            WHERE vec_id NOT IN ({prev})
            ORDER BY dmin DESC, vec_id ASC LIMIT 1
        ),
        d{rk} AS MATERIALIZED (
            SELECT d.vec_id, d.md,
                   least(d.dmin,
                         {_d2_duck('d.md', f's{rk}.c_md', dim)}) AS dmin
            FROM d{rk - 1} d CROSS JOIN s{rk}
        )""")
    selects = " UNION ALL ".join(
        f"SELECT {rk}::BIGINT AS rank, c_vid AS vec_id,"
        f" c_d::BIGINT AS min_dist2 FROM s{rk}"
        for rk in range(1, KCENTER_K + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + selects
