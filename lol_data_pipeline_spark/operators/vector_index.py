"""Materialized IVF+PQ vector index: build ONCE as a
``cell_id``-partitioned parquet table plus a tiny JSON sidecar
(trained coarse centroids, PQ codebook, source fingerprint), then
SERVE queries via partition pruning — the amortized-index form of
plans/round9.py's per-query ann_ivfpq_kmeans_topk composition.

This executes the repo's central 100 TB claim (SCALE.md, round 9):
"at 100 TB the assignment becomes an index BUILD — cell_id as a
partition column; probes become partition pruning". Concretely:

- BUILD (once, amortized over every query): :func:`train_and_encode`
  — the stages the in-query flagship runs too — trains the kmeans
  coarse quantizer on a 1-in-4 id sample (codebook quality needs
  samples, not the corpus), assigns the full corpus as a join-free
  projection against the literal trained centroids, and PQ-encodes
  to m small-int codes per vector (``pq_encode(emit="codes")`` — m
  bytes/vector, the storage win); :func:`build_ivfpq_index` writes
  them hive-partitioned by ``cell_id`` (io.write_overwrite). The
  codebook + PQ seeds persist in a
  ``_index_meta.json`` sidecar INSIDE the index directory (the
  leading underscore keeps it invisible to the parquet reader, like
  ``_SUCCESS``), alongside a source-content fingerprint so a
  regenerated corpus rebuilds instead of serving stale cells.
- SERVE (per query batch): one body, :func:`_served_topk`, serves
  one probe width (:func:`served_ivfpq_topk`) or several
  (:func:`served_ivfpq_topk_multi`). Probe selection is the same
  join-free posexplode-over-literal-centroids projection the
  in-query flagship uses (:func:`ivf_probe_rows`); the probed cell
  ids (bounded by the codebook size, ≤ k cells total regardless of
  query count) become LITERAL partition filters on the index scan,
  so Spark prunes to nprobe directories and reads ONLY the m code
  columns — at 100 TB the probe touches nprobe/C of the files and
  m/(dim·4) of the bytes, multiplicatively. Decode back to the ADC
  reconstruction x̂ is a pure projection against the sidecar
  codebook (:func:`pq_decode_expr` — the SAME literal doubles
  pq_encode's in-query xhat carries, so served results are
  bit-identical to the recomputing flagship and share its DuckDB
  oracle), scored by the PQ family's one ADC join
  (:func:`similarity.adc_scored`). Exact-cosine rescore joins the
  bounded refine·k candidate set back to the full-precision source
  table (broadcast of the candidates; the corpus is never
  shuffled).
- MAINTAIN (incremental): :func:`index_upsert` assigns a NEW vector
  batch to the FROZEN persisted codebook (pure projection — no
  retraining), merges per affected partition (existing rows minus
  replaced ids, union new rows) and rewrites ONLY those partitions
  via io.write_upsert_partitions (dynamic partition overwrite) — the
  idempotent daily-ingest pattern: re-running the same batch is a
  no-op by construction. Affected partitions are bounded by the
  codebook size (≤ k), never by batch or corpus size.

Reference parity: the reference's pipeline persists fetched match
documents and re-serves them without refetching (reference
src/api/db.py:23-38 truncate-and-load); this module is the same
build-once/serve-many contract applied to the vector-index family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lol_data_pipeline_spark.io import write_upsert_partitions, write_overwrite
from lol_data_pipeline_spark.operators import artifact
from lol_data_pipeline_spark.operators.clustering import _cc, kmeans_cells, kmeans_train
from lol_data_pipeline_spark.operators.similarity import (
    _arr_sql,
    adc_scored,
    cosine,
    dot,
    pq_encode,
    pq_seeds,
)


def _cents(meta: dict) -> list[tuple[int, list[float]]]:
    """The sidecar's trained centroids as (cell id, doubles)."""
    return [(int(c), [float(v) for v in cv]) for c, cv in meta["cents"]]


def pq_code_cols(m: int) -> list[str]:
    return [f"code{s}" for s in range(m)]


def pq_decode_expr(seeds: list[list[float]], m: int, dsub: int):
    """Reconstruct x̂ from persisted codes: concat of
    ``element_at(<literal sub-codebook>, code_s + 1)`` per subspace —
    a pure projection whose output doubles are the SAME literals
    pq_encode's in-query xhat carries (``repr`` round-trips IEEE
    doubles exactly), so ADC ranking over a served index is
    bit-identical to ranking over an in-query encode."""
    subc = [
        [seeds[j][s * dsub : (s + 1) * dsub] for j in range(len(seeds))]
        for s in range(m)
    ]
    parts = []
    for s in range(m):
        arr2 = "array(" + ", ".join(_arr_sql(c) for c in subc[s]) + ")"
        parts.append(f"element_at({arr2}, code{s} + 1)")
    return F.expr("concat(" + ", ".join(parts) + ")")


def ivf_probe_rows(
    queries: DataFrame,
    cents: list[tuple[int, list[float]]],
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe selection against LITERAL trained centroids:
    (query_id, qvec, pcell, probe_rank) — join-free posexplode of
    slice(array_sort((d², cid) structs), 1, nprobe). |c|² uses
    clustering._cc, the one definition of the sequential fold whose
    left-to-right order is bit-parity-critical against the oracle's
    list_inner_product. ONE definition shared by the in-query
    flagship (plans/round9.py) and the served index."""
    x = F.col(vec_col).cast("array<double>")
    xx = dot(x, x)
    probe_structs = F.array_sort(
        F.array(
            *[
                F.struct(
                    (
                        xx
                        - 2 * dot(x, F.lit([float(v) for v in cv]))
                        + F.lit(_cc(cv))
                    ).alias("d2"),
                    F.lit(cid).alias("cid"),
                )
                for cid, cv in cents
            ]
        )
    )
    return queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.posexplode(F.slice(probe_structs, 1, nprobe)).alias("pos", "sel"),
    ).select(
        "query_id",
        "qvec",
        F.col("sel.cid").alias("pcell"),
        (F.col("pos") + 1).cast("long").alias("probe_rank"),
    )


def auto_cells(n: int, lo: int = 8) -> int:
    """The k ∝ √N IVF sizing rule (SCALE.md), as CODE: the smallest
    power of two k with k² ≥ n, clamped below at ``lo``. Exact
    integer arithmetic (no float log2 near power boundaries), so a
    SQL oracle reproduces the decision bit-for-bit — see
    plans/round12.ann_index_autosize. Rationale: average cell size
    n/k ≈ √n keeps probe cost (nprobe·n/k) and the Σ cell² pair
    kernels (SemDeDup, compaction quota math) bounded by the build
    rule instead of degrading superlinearly under a fixed k — the
    measured fixed-k failure is PERF_NOTES.md's 15.1× 8× curve."""
    k = lo
    while k * k < n:
        k <<= 1
    return k


def train_and_encode(
    emb: DataFrame,
    k: int,
    rounds: int,
    m: int,
    dsub: int,
    ncent: int,
    sample_mod: int,
    dim: int,
    emit: str,
) -> tuple[list[tuple[int, list[float]]], list[list[float]], DataFrame]:
    """The IVF+PQ build stages, shared by :func:`build_ivfpq_index`
    and the in-query flagship (plans/round9.ann_ivfpq_kmeans_topk):
    Lloyd training on the 1-in-``sample_mod`` id sample, full-corpus
    cell assignment against the literal trained centroids, the
    ``ncent`` lowest-id PQ seeds (:func:`similarity.pq_seeds`), and
    the PQ encode. Returns (cents, seeds, encoded): ``emit="codes"``
    gives the persisted form (vec_id, cell_id, code*), ``emit="xhat"``
    the in-query ADC form (match_id, cvec, cell_id, xhat)."""
    cents = kmeans_train(
        emb.filter(F.col("vec_id") % sample_mod == 0),
        k=k,
        rounds=rounds,
        dim=dim,
    )
    cells = kmeans_cells(emb, k=k, rounds=rounds, dim=dim, cents=cents)
    seeds = pq_seeds(emb, ncent)
    enc = pq_encode(
        cells,
        seeds,
        m=m,
        dsub=dsub,
        keep=["cell_id"],
        id_alias="vec_id" if emit == "codes" else "match_id",
        widen_input=False,
        emit=emit,
    )
    return cents, seeds, enc


def build_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    k: int | None = 8,
    rounds: int = 5,
    m: int = 8,
    dsub: int = 8,
    ncent: int = 16,
    sample_mod: int = 4,
    dim: int = 64,
) -> dict:
    """The index BUILD: sample-trained codebook → full-corpus cell
    assignment → PQ codes → hive-partitioned overwrite + sidecar.
    Per Lloyd round the training scan reads the 1-in-``sample_mod``
    sample; the single full-corpus pass is assignment+encode, both
    pure projections against literal centroids. Returns the sidecar
    metadata dict."""
    from lol_data_pipeline_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    if k is None:
        # auto-size from the corpus: k ∝ √N (registry entries pin an
        # explicit k so their unrolled cross-engine oracles stay
        # static; production builds pass k=None)
        k = auto_cells(emb.count())
    cents, seeds, codes = train_and_encode(
        emb, k, rounds, m, dsub, ncent, sample_mod, dim, emit="codes"
    )
    write_overwrite(codes, path, partition_by=["cell_id"])
    return artifact.save_meta(path, "ivfpq", {
        "fingerprint": artifact.source_fingerprint(sf_dir, "embeddings"),
        "params": {
            "k": k,
            "rounds": rounds,
            "m": m,
            "dsub": dsub,
            "ncent": ncent,
            "sample_mod": sample_mod,
            "dim": dim,
        },
        "cents": [[cid, cv] for cid, cv in cents],
        "seeds": seeds,
    })


def ensure_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    root: str | None = None,
    variant: str = "",
    **params,
) -> tuple[str, dict]:
    """Build-if-absent-or-stale: returns (path, sidecar meta). The
    index is keyed by the sf_dir basename (one index per corpus) and
    an optional ``variant`` suffix (e.g. the upsert entry maintains
    its OWN copy so its synthetic batch never leaks into the served
    read-only index). Staleness = source fingerprint or build params
    changed."""
    defaults = dict(
        k=8, rounds=5, m=8, dsub=8, ncent=16, sample_mod=4, dim=64
    )
    defaults.update(params)
    if defaults["k"] is None or os.environ.get("SPARK_GRAFT_IVF_AUTOK"):
        # resolve the k ∝ √N rule BEFORE the staleness compare so the
        # sidecar records the concrete k it was built with.
        # SPARK_GRAFT_IVF_AUTOK force-overrides pinned k — scale-probe
        # use ONLY (tools/scale_probe.py): the unrolled SQL oracles
        # assume the pinned k, so parity checks must run without it.
        from lol_data_pipeline_spark.io import load_table

        defaults["k"] = auto_cells(
            load_table(spark, sf_dir, "embeddings").count()
        )
    return artifact.ensure(
        "ivfpq", sf_dir, "embeddings", defaults,
        lambda path: build_ivfpq_index(spark, sf_dir, path, **defaults),
        root, variant,
    )


def read_index_codes(
    spark: SparkSession, path: str, meta: dict, cells: list[int] | None = None
) -> DataFrame:
    """Scan of the persisted index, pruned to ``cells`` when given
    (literal partition filters → Spark prunes to those directories)
    and projected to exactly (vec_id, cell_id, code*) — the scan
    reads m code bytes per vector, never a float vector. The schema
    is declared from the sidecar params so the read never pays a
    schema-inference footer job."""
    m = meta["params"]["m"]
    ddl = "vec_id long, " + ", ".join(
        f"code{i} int" for i in range(m)
    ) + ", cell_id int"
    df = spark.read.schema(ddl).parquet(path)
    if cells is not None:
        df = df.filter(F.col("cell_id").isin([int(c) for c in cells]))
    return df.select("vec_id", "cell_id", *pq_code_cols(m))


def _served_topk(
    spark: SparkSession,
    sf_dir: str,
    queries: DataFrame,
    widths: list[int],
    k: int,
    refine: int,
    index_root: str | None = None,
    keep_vec: bool = False,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """The one served body: probe at max(``widths``) → pruned code
    scan → decode → ADC scored join (:func:`similarity.adc_scored`)
    → per width, the top ``refine·k`` by approx among the cells that
    width probes → ONE exact rescore of every width's candidates →
    per (width, query) top-k. Returns (nprobe, query_id, match_id,
    probe_rank, sim, rank[, cvec]).

    The probed-cell collect is bounded by the CODEBOOK size (≤ k
    distinct cells exist no matter how many queries probe), so the
    literal partition filter stays constant-size at any scale."""
    from lol_data_pipeline_spark.io import load_table

    path, meta = ensure_ivfpq_index(spark, sf_dir, root=index_root)
    p = meta["params"]
    top = max(widths)
    qprobe = ivf_probe_rows(queries, _cents(meta), top)
    probed = sorted(
        int(r.pcell) for r in qprobe.select("pcell").distinct().collect()
    )
    xhat = read_index_codes(spark, path, meta, cells=probed).select(
        F.col("vec_id").alias("match_id"),
        "cell_id",
        pq_decode_expr(meta["seeds"], p["m"], p["dsub"]).alias("xhat"),
    )
    if filter_ids is not None:
        # PRE-filter: the metadata predicate prunes candidate lists
        # BEFORE ADC ranking (post-filtering an unfiltered top-k is
        # wrong at low selectivity — ann_filtered_topk pins the
        # semantics). Semi-join keeps the scan narrow.
        xhat = xhat.join(
            filter_ids.select(F.col(filter_ids.columns[0]).alias("match_id")),
            "match_id",
            "semi",
        )
    scored = adc_scored(
        xhat, qprobe, ["query_id", "match_id", "qvec", "probe_rank"]
    )
    aw = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("match_id").asc()
    )
    cand = None
    for n in sorted(set(widths)):
        c = (
            (scored if n == top else scored.filter(F.col("probe_rank") <= n))
            .withColumn("arank", F.row_number().over(aw))
            .filter(F.col("arank") <= refine * k)
            .select(
                F.lit(n).cast("long").alias("nprobe"),
                "query_id",
                "match_id",
                "qvec",
                "probe_rank",
            )
        )
        cand = c if cand is None else cand.unionByName(c)
    # Exact rescore against the full-precision SOURCE table (the
    # index stores only codes): candidates are bounded (widths·Q·
    # refine·k rows) → broadcast them; the source is filter-joined,
    # never shuffled, and joined once for every width.
    src = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("match_id"), F.col("embedding").alias("cvec")
    )
    resc = src.join(F.broadcast(cand), "match_id").select(
        "nprobe",
        "query_id",
        "match_id",
        "probe_rank",
        F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("sim"),
        # keep_vec: downstream stages (MMR diversity terms) need the
        # candidate vectors the rescore already scanned — carrying
        # them through here saves those stages a second corpus join
        *(["cvec"] if keep_vec else []),
    )
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("sim").desc(), F.col("match_id").asc()
    )
    return (
        resc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "nprobe",
            "query_id",
            "match_id",
            "probe_rank",
            "sim",
            "rank",
            *(["cvec"] if keep_vec else []),
        )
    )


def served_ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    queries: DataFrame,
    k: int = 5,
    refine: int = 4,
    nprobe: int = 2,
    index_root: str | None = None,
    keep_vec: bool = False,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Serve top-k from the PERSISTED index at one probe width: the
    shared served body (:func:`_served_topk`) at ``[nprobe]``. Output
    schema and values are identical to the in-query flagship
    (plans/round9.py ann_ivfpq_kmeans_topk): (query_id, match_id,
    probe_rank, sim, rank[, cvec]). ``filter_ids`` (one id column)
    pre-filters the candidates before ADC ranking."""
    return _served_topk(
        spark, sf_dir, queries, [nprobe], k, refine,
        index_root, keep_vec, filter_ids,
    ).drop("nprobe")


def assign_to_index(new_vecs: DataFrame, meta: dict) -> DataFrame:
    """Assign a NEW vector batch to the FROZEN persisted codebook and
    PQ-encode it — a pure projection against the sidecar's literal
    centroids (no retraining, no join, no shuffle). Returns rows in
    the index's storage schema (vec_id, cell_id, code*)."""
    from lol_data_pipeline_spark.operators.clustering import _assign_expr

    p = meta["params"]
    cents = _cents(meta)
    x = F.col("embedding").cast("array<double>")
    assigned = new_vecs.select(
        "vec_id",
        "embedding",
        _assign_expr(x, dot(x, x), cents).cast("long").alias("cell_id"),
    )
    return pq_encode(
        assigned,
        meta["seeds"],
        m=p["m"],
        dsub=p["dsub"],
        keep=["cell_id"],
        id_alias="vec_id",
        widen_input=False,
        emit="codes",
    )


def index_delete(
    spark: SparkSession, path: str, meta: dict, doomed: DataFrame
) -> list[int]:
    """Remove a vector batch from the persisted index (the take-down
    / right-to-be-forgotten path a training-data pipeline must have):
    the doomed ids' cells are recomputed from their SOURCE vectors as
    a pure projection against the frozen codebook (cell assignment is
    deterministic, so the recomputation IS the lookup — no scan of
    the index to find them), then ONLY those ≤ codebook-size
    partitions are rewritten without the doomed ids. Idempotent: a
    re-run rewrites identical content. ``doomed`` carries (vec_id,
    embedding). Returns the affected cell ids."""
    from lol_data_pipeline_spark.operators.clustering import _assign_expr

    cents = _cents(meta)
    x = F.col("embedding").cast("array<double>")
    assigned = doomed.select(
        "vec_id", _assign_expr(x, dot(x, x), cents).cast("long").alias("cell_id")
    )
    affected = sorted(
        int(r.cell_id) for r in assigned.select("cell_id").distinct().collect()
    )
    existing = read_index_codes(spark, path, meta, cells=affected)
    keep = existing.join(
        F.broadcast(assigned.select("vec_id")), "vec_id", "left_anti"
    ).localCheckpoint()
    write_upsert_partitions(keep, path, ["cell_id"])
    # Dynamic overwrite only rewrites partitions PRESENT in the
    # written frame — a cell whose every member was deleted would
    # silently survive on disk. Drop such directories explicitly
    # (bounded ≤ codebook size; a cluster deployment does the same
    # via catalog DROP PARTITION).
    import shutil

    survived = {
        int(r.cell_id) for r in keep.select("cell_id").distinct().collect()
    }
    for c in affected:
        if c not in survived:
            shutil.rmtree(os.path.join(path, f"cell_id={c}"), ignore_errors=True)
    return affected


def index_upsert(
    spark: SparkSession, path: str, meta: dict, new_codes: DataFrame
) -> list[int]:
    """Merge a new encoded batch into the persisted index: for each
    AFFECTED partition (bounded ≤ codebook size), keep existing rows
    whose ids are not replaced, union the new rows, and dynamically
    overwrite ONLY those partitions (io.write_upsert_partitions).
    Idempotent: re-running the same batch rewrites identical
    content. The merged frame is localCheckpoint()ed before the
    write because the plan READS the same partitions it overwrites —
    materialize-then-commit is the standard self-overwrite guard (a
    cluster deployment would use a staging table + atomic swap).
    Returns the affected cell ids."""
    affected = sorted(
        int(r.cell_id)
        for r in new_codes.select("cell_id").distinct().collect()
    )
    existing = read_index_codes(spark, path, meta, cells=affected)
    keep = existing.join(
        F.broadcast(new_codes.select("vec_id")), "vec_id", "left_anti"
    )
    merged = keep.unionByName(new_codes.select(*keep.columns)).localCheckpoint()
    write_upsert_partitions(merged, path, ["cell_id"])
    return affected


def index_compact(
    spark: SparkSession, path: str, meta: dict, quota: int | None = None
) -> tuple[list[int], list[tuple[int, int, int]]]:
    """Rebalance over-quota cells — the maintenance step the upsert
    path eventually needs: every upsert batch lands in ≤ k cells and
    nothing re-splits a hot cell, so a long-fed index skews (cell
    skew is scan skew at probe time). One compaction pass, run FROM
    THE INDEX ALONE (codes + sidecar — no source scan):

    - quota defaults to perfect balance ceil(N/k) (integer
      arithmetic, engine-portable);
    - each over-quota cell keeps its ``quota`` members NEAREST to its
      centroid (d² of the DECODED x̂ against the literal centroid —
      deterministic: d² then vec_id) and MOVES the rest to their
      next-nearest OTHER centroid (d² then cid — the probe ordering);
    - only the affected partitions (donors ∪ receivers, ≤ codebook
      size) are rewritten via dynamic partition overwrite. Codes are
      cell-INDEPENDENT in this no-residual PQ variant, so a move
      rewrites a row's cell_id without re-encoding (the residual
      variant would have to re-encode — one reason production
      indexes, e.g. FAISS's IVFPQ, often keep by_residual off for
      relocatable storage).

    Single-pass by design: a receiver may end over quota; the pass is
    idempotent-to-convergence (re-running compacts further until no
    cell exceeds quota by construction of the keep-rank). A query
    probing the ORIGINAL nearest cell can miss a moved vector — the
    standard balance-vs-recall trade every quota-bounded IVF accepts;
    nprobe is the recovery lever.

    Returns (affected cell ids, moves as (vec_id, from, to))."""
    p = meta["params"]
    k = p["k"]
    cents = _cents(meta)
    counts = {
        int(r.cell_id): int(r.n)
        for r in spark.read.parquet(path)
        .groupBy("cell_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total = sum(counts.values())
    if quota is None:
        quota = (total + k - 1) // k
    over = sorted(c for c, n in counts.items() if n > quota)
    if not over:
        return [], []
    members = read_index_codes(spark, path, meta, cells=over)
    xh = F.col("xhat")
    d2s = F.array_sort(
        F.array(
            *[
                F.struct(
                    (
                        dot(xh, xh)
                        - 2 * dot(xh, F.lit(cv))
                        + F.lit(_cc(cv))
                    ).alias("d2"),
                    F.lit(cid).alias("cid"),
                )
                for cid, cv in cents
            ]
        )
    )
    scored = members.select(
        "vec_id",
        "cell_id",
        pq_decode_expr(meta["seeds"], p["m"], p["dsub"]).alias("xhat"),
    ).select("vec_id", "cell_id", d2s.alias("ds"))
    ranked = scored.select(
        "vec_id",
        "cell_id",
        F.element_at(
            F.filter(F.col("ds"), lambda s: s.cid == F.col("cell_id")), 1
        )["d2"].alias("d2own"),
        F.element_at(
            F.filter(F.col("ds"), lambda s: s.cid != F.col("cell_id")), 1
        )["cid"].alias("next_cell"),
    )
    w = Window.partitionBy("cell_id").orderBy(
        F.col("d2own").asc(), F.col("vec_id").asc()
    )
    movers = [
        (int(r.vec_id), int(r.cell_id), int(r.next_cell))
        for r in ranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > quota)
        .select("vec_id", "cell_id", "next_cell")
        .collect()
    ]
    # movers are bounded by the over-quota excess of ≤ k cells — at a
    # steady-state index that is the size of recent upsert batches,
    # not the corpus; a skew so pathological that movers rival the
    # corpus means the codebook itself is stale (rebuild, not compact)
    receivers = sorted({t for _v, _f, t in movers})
    affected = sorted(set(over) | set(receivers))
    move_df = spark.createDataFrame(
        [(v, t) for v, _f, t in movers], "vec_id long, to_cell long"
    )
    existing = read_index_codes(spark, path, meta, cells=affected)
    merged = (
        existing.join(F.broadcast(move_df), "vec_id", "left")
        .withColumn(
            "cell_id",
            F.coalesce(F.col("to_cell"), F.col("cell_id")).cast(
                existing.schema["cell_id"].dataType
            ),
        )
        .drop("to_cell")
        .localCheckpoint()
    )
    write_upsert_partitions(merged, path, ["cell_id"])
    # a donor whose every member moved would keep a stale directory
    survived = {
        int(r.cell_id) for r in merged.select("cell_id").distinct().collect()
    }
    import shutil

    for c in affected:
        if c not in survived:
            shutil.rmtree(os.path.join(path, f"cell_id={c}"), ignore_errors=True)
    return affected, movers


def served_ivfpq_topk_multi(
    spark: SparkSession,
    sf_dir: str,
    queries: DataFrame,
    nprobes: list[int],
    k: int = 5,
    refine: int = 4,
    index_root: str | None = None,
) -> DataFrame:
    """Serve top-k at SEVERAL probe widths from ONE plan — the shape
    a recall-vs-nprobe evaluation wants: the shared served body
    (:func:`_served_topk`) probes once at max(nprobes), scans the
    union of probed partitions once, decodes once, and rescores every
    width's candidates against the source in one join. Per (nprobe,
    query) the rows are identical to served_ivfpq_topk(nprobe=...)
    (tests/test_round11_ops.py pins it).

    Returns (nprobe, query_id, match_id, probe_rank, sim, rank)."""
    return _served_topk(spark, sf_dir, queries, nprobes, k, refine, index_root)
