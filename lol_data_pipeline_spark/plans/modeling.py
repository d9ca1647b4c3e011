"""Round-11 continuation: the TRAINED-MODEL curation family — the
corpus operations that LEARN something from the corpus and then apply
it, composed over the artifacts earlier rounds materialized.

- corpus_semdedup: SemDeDup-style semantic deduplication SERVED from
  the persisted IVF index — the coarse k-means cells the index
  already maintains ARE the clusters; within-cell exact-cosine pairs
  above τ mark the younger member dropped. No new clustering pass:
  the dedup rides the artifact.
- corpus_quality_logreg / _eval / corpus_curriculum_stages: a
  distributed-TRAINED linear quality classifier (the fastText-style
  language/quality filter every LLM data pipeline runs, e.g. the
  GPT-3/LLaMA corpus filters): full-batch logistic-regression
  gradient descent where each round is ONE codegen aggregate of
  fixed-point integer gradient sums (order-independent BIGINT —
  the power-iteration / kmeans determinism recipe) and a 1-row
  collect (broadcast-iterate). The learned weights persist as a
  fingerprinted JSON sidecar (ensure_lr_model — the engine's model
  registry), so serving never retrains on a warm artifact. Scoring
  is a pure projection with the weights as driver literals; eval is
  the confusion matrix;
  the curriculum entry turns scores into a stage × source training
  schedule (fixed score bands — pure projection, no global window).
- text_bpe_stats_served / text_bpe_fertility_served: vocabulary
  utilization and per-domain tokens/word off the persisted tokenizer
  — the monitoring rows that decide when the vocabulary is due a
  retrain and which domains it serves poorly.

The family grew in-round into the full model lifecycle: TRAIN
(fixed-point GD), REGISTER (ensure_lr_model sidecar +
corpus_quality_logreg_weights, the registry read), SERVE (batch
scoring, stream_quality_score_multibatch), EVALUATE (confusion
matrix, corpus_quality_calibration reliability curve), MONITOR
(dq_model_score_drift PSI) — mirrored for the other learned
artifacts: SemDeDup gains a streaming ingest gate
(stream_semdedup_probe_multibatch), a per-cell observability rollup
(corpus_semdedup_cells) and transitive components
(corpus_semdedup_components); the mixture gains an integral shard
apportionment (corpus_mixture_shard_plan) and stream-maintained
weights (stream_mixture_weights_multibatch); the served vector index
feeds contrastive training (retrieval_hard_negatives_served); the
graph artifact labels the corpus (graph_label_prop_served); and
corpus_training_data_e2e composes quality gate → semantic drop →
tokenize → pack with every stage served from its artifact.

Scale notes (100 TB):
- corpus_semdedup: candidate pairs are Σ cell² WITHIN coarse cells,
  never corpus². Cell population is the quantity ann_index_stats
  monitors and ann_index_compact bounds, so the pair blowup has an
  enforced ceiling; at production k ≈ √N cells the expected cell is
  √N rows. The only corpus-sized work is one id-equi join of the
  (vec_id, cell_id) index scan against the vector table — codes and
  text never move. The oracle re-derives the index build's cell
  assignment (round9._codebook_ctes, the codebook chain every
  IVF+PQ oracle shares), so served assignments are verified, not
  trusted.
- corpus_quality_logreg: per training round the shuffle is N_FEAT
  partial BIGINT rows at ANY corpus size (map-side combined integer
  sums), driver traffic one row; the feature projection is pure
  Column arithmetic on exact rationals (counts and count ratios —
  no transcendental enters until the sigmoid, which is quantized to
  a 2^-12 grid in both engines before it touches the gradient).
- corpus_curriculum_stages: fixed score-band staging is a pure
  projection (a quantile-staged variant would need only 3 broadcast
  boundary literals); the per-(stage, source) rollup is one
  map-side-combined aggregate over a bounded key domain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lol_data_pipeline_spark.functions import text as tx
from lol_data_pipeline_spark.plans.queries import T, query

# ---------------------------------------------------------------------------
# corpus_semdedup — SemDeDup off the persisted IVF index.
# ---------------------------------------------------------------------------

_SD_TAU = 0.45  # same exact-cosine threshold dedup_embedding_cosine verifies


def _sql_semdedup_head() -> tuple[str, str]:
    """Shared oracle head for the SemDeDup family: the index-build
    re-derivation + within-cell pair mining + per-dropped-id keeper
    ranking. Returns (cte_block, cells_cte_name)."""
    from lol_data_pipeline_spark.plans.extensions import SQL_COS
    from lol_data_pipeline_spark.plans.round9 import _CB_CELLS, _codebook_ctes

    ctes = _codebook_ctes()
    cells = _CB_CELLS
    sim = SQL_COS.format(a="a.x", b="b.x")
    head = (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    pairs AS (
      SELECT b.vec_id AS vid, a.vec_id AS kid, a.cluster AS cell,
             {sim} AS sim
      FROM {cells} a JOIN {cells} b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {sim} >= {_SD_TAU}
    ),
    keep AS (
      SELECT vid, kid, sim, cell,
             row_number() OVER (PARTITION BY vid
                                ORDER BY sim DESC, kid) AS rn
      FROM pairs
    )"""
    )
    return head, cells


def _sql_semdedup() -> str:
    head, _cells = _sql_semdedup_head()
    return (
        head
        + """
    SELECT CAST(vid AS BIGINT) AS vec_id, CAST(kid AS BIGINT) AS kept_id,
           sim, CAST(cell AS BIGINT) AS cell_id
    FROM keep WHERE rn = 1 ORDER BY vec_id
    """
    )


def _semdedup_nodes(spark, sf_dir):
    """(vec_id, cell_id) scan of the persisted IVF index — the served
    cluster assignment, 2 columns, codes untouched."""
    from lol_data_pipeline_spark.operators.vector_index import (
        ensure_ivfpq_index,
    )
    from lol_data_pipeline_spark.plans.round9 import _INDEX_PARAMS

    from lol_data_pipeline_spark.operators.vector_index import (
        read_index_codes,
    )

    path, _meta = ensure_ivfpq_index(spark, sf_dir, **_INDEX_PARAMS)
    # read via the declared-schema reader (no schema-inference footer
    # job); column pruning drops the code columns at the scan
    return read_index_codes(spark, path, _meta).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cell_id").cast("long").alias("cell_id"),
    )


def _semdedup_pairs(spark, sf_dir):
    """ALL within-cell exact-cosine pairs ≥ τ off the served
    assignment (kid < vid) — the raw pair frame the one-hop keeper
    ranking AND the transitive components entry both consume."""
    from lol_data_pipeline_spark.caching import tracked_persist
    from lol_data_pipeline_spark.operators import similarity as sim

    nodes = _semdedup_nodes(spark, sf_dir)
    emb = sim.with_norm(T(spark, sf_dir, "embeddings"), "embedding")
    # persist the (cell, id, vector, norm) frame: BOTH self-join sides
    # read it — unpersisted, the nodes×vectors id join (the only
    # corpus-sized work here) executes twice (the dedup_minhash_pairs
    # lesson, PERF_NOTES.md)
    cellv = tracked_persist(nodes.join(emb, "vec_id"))
    a = cellv.select(
        F.col("cell_id").alias("cell"),
        F.col("vec_id").alias("kid"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = cellv.select(
        F.col("cell_id").alias("cell"),
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("kid") < F.col("vid"))
        .select(
            "vid",
            "kid",
            "cell",
            F.round(
                sim.dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= _SD_TAU)
    )
    return pairs


def _semdedup_dropped(spark, sf_dir):
    """The dropped→keeper frame (vid, kid, sim, cell): best keeper
    per dropped id (max sim, tie → lowest id) over the shared pair
    frame."""
    from pyspark.sql import Window

    w = Window.partitionBy("vid").orderBy(F.desc("sim"), F.asc("kid"))
    return (
        _semdedup_pairs(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query("corpus_semdedup", sql=_sql_semdedup())
def corpus_semdedup(spark, sf_dir):
    """SemDeDup (semantic dedup, Abbas et al. 2023 shape) SERVED from
    the persisted IVF index: the index's coarse k-means cells stand in
    for the paper's clusters, within-cell EXACT-cosine pairs ≥ τ mark
    near-duplicate semantics, and the younger (higher-id) member of
    each pair is dropped in favour of its best keeper (max sim, tie →
    lowest id) — the repo's keep-first dedup convention (the paper
    keeps the member farthest from the centroid; keep-first is this
    repo's uniform, deterministic policy across every dedup entry).
    No clustering runs in-query: assignment comes from the artifact's
    (vec_id, cell_id) columns alone (2-column scan, codes and text
    untouched); exact vectors for verification arrive via one id-equi
    join against the vector table. Candidate pairs are Σ cell² within
    cells — the bounded blowup ann_index_stats monitors and
    ann_index_compact enforces — never corpus². The oracle re-derives
    the build's cell assignment via the standing kmeans_ctes chain,
    so the served assignment is verified, not trusted."""
    return (
        _semdedup_dropped(spark, sf_dir)
        .select(
            F.col("vid").alias("vec_id"),
            F.col("kid").alias("kept_id"),
            "sim",
            F.col("cell").alias("cell_id"),
        )
        .orderBy("vec_id")
    )


def _sql_semdedup_cells() -> str:
    head, cells = _sql_semdedup_head()
    return (
        head
        + f""",
    members AS (
      SELECT CAST(cluster AS BIGINT) AS cell_id,
             CAST(count(*) AS BIGINT) AS n_members
      FROM {cells} GROUP BY 1
    ),
    drops AS (
      SELECT CAST(cell AS BIGINT) AS cell_id,
             CAST(count(*) AS BIGINT) AS n_dropped
      FROM keep WHERE rn = 1 GROUP BY 1
    )
    SELECT m.cell_id, m.n_members,
           COALESCE(d.n_dropped, 0) AS n_dropped,
           m.n_members - COALESCE(d.n_dropped, 0) AS n_kept
    FROM members m LEFT JOIN drops d USING (cell_id)
    ORDER BY cell_id
    """
    )


@query("corpus_semdedup_cells", sql=_sql_semdedup_cells())
def corpus_semdedup_cells(spark, sf_dir):
    """SemDeDup OBSERVABILITY: per-cell members / dropped / kept off
    the served assignment — the rollup that prices the dedup (how
    much corpus the τ threshold removes, and whether drops
    concentrate in a few hot cells — the re-curation / compaction
    trigger). Two bounded-key aggregates + a broadcast join of ≤ k
    rows; pair mining is the same Σ cell²-bounded kernel as
    corpus_semdedup (one definition, _semdedup_dropped)."""
    nodes = _semdedup_nodes(spark, sf_dir)
    members = nodes.groupBy("cell_id").agg(
        F.count("*").cast("long").alias("n_members")
    )
    drops = (
        _semdedup_dropped(spark, sf_dir)
        .groupBy(F.col("cell").alias("cell_id"))
        .agg(F.count("*").cast("long").alias("n_dropped"))
    )
    return (
        members.join(F.broadcast(drops), "cell_id", "left")
        .select(
            "cell_id",
            "n_members",
            F.coalesce(F.col("n_dropped"), F.lit(0))
            .cast("long")
            .alias("n_dropped"),
            (F.col("n_members") - F.coalesce(F.col("n_dropped"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("cell_id")
    )


# ---------------------------------------------------------------------------
# corpus_quality_logreg — distributed-trained linear quality filter.
# ---------------------------------------------------------------------------

_LR_ROUNDS = 16
_LR_ETA = 8.0
_LR_GSC = 1048576.0  # 2^20 gradient fixed-point scale (BIGINT sums)
_LR_PSC = 4096.0  # 2^12 sigmoid quantization grid
_LR_NF = 5
_LR_TOPK = 20


def _sql_lr_feats() -> str:
    """Feature CTE: label y = the document meets the length quality
    bar (n_chars ≥ 300 — the 'large' class mm_binary_meta already
    defines; n_chars itself is EXCLUDED from the features, so the
    model must recover the bar from token-level evidence). Features
    are all EXACT RATIONALS (integer token counts and their ratios)
    so both engines hold bit-identical doubles before any
    transcendental runs."""
    from lol_data_pipeline_spark.plans.extensions import (
        SQL_TOKS,
        _sql_stop_hits,
    )

    return f"""feats AS (
      SELECT doc_id, source,
             CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END AS y,
             1.0 AS x0,
             ({_sql_stop_hits('en')} * 1.0 / len(t)) AS x1,
             (len(t) / 100.0) AS x2,
             ((len(array_to_string(t, '')) * 1.0 / len(t)) / 8.0) AS x3,
             (len(list_distinct(t)) * 1.0 / len(t)) AS x4,
             CAST(len(t) AS BIGINT) AS n_tokens
      FROM (SELECT doc_id, n_chars, source, {SQL_TOKS} AS t FROM documents)
    )"""


def _sql_lr_train_ctes() -> list[str]:
    """Unrolled gradient descent: per round, the quantized-sigmoid
    score under the previous weights, fixed-point BIGINT gradient
    sums, then the IEEE-identical weight update — mirrors the Spark
    loop in _lr_train_weights step for step."""
    # AS MATERIALIZED: every t{i} is referenced by BOTH g{i} and
    # t{i+1}, and the scoring expression references it per feature —
    # left to inlining, the chain re-evaluates upstream rounds once
    # per reference (multiplicative per round: the _LR_ROUNDS-round
    # chain never finishes). Materializing pins each round to one
    # evaluation; the
    # rows involved are 1-row weight tuples and the feature table.
    ctes = [
        _sql_lr_feats().replace("feats AS (", "feats AS MATERIALIZED (", 1),
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM feats)",
        "t0 AS MATERIALIZED (SELECT "
        + ", ".join(f"0.0 AS w{j}" for j in range(_LR_NF))
        + ")",
    ]
    for i in range(_LR_ROUNDS):
        z = " + ".join(f"t{i}.w{j} * f.x{j}" for j in range(_LR_NF))
        p = f"floor((1.0 / (1.0 + exp(-({z})))) * {_LR_PSC}) / {_LR_PSC}"
        sums = ", ".join(
            f"CAST(sum(CAST(floor(({p} - f.y) * f.x{j} * {_LR_GSC}) "
            f"AS BIGINT)) AS BIGINT) AS s{j}"
            for j in range(_LR_NF)
        )
        ctes.append(f"g{i} AS MATERIALIZED (SELECT {sums} FROM feats f, t{i})")
        ws = ", ".join(
            f"t{i}.w{j} - {_LR_ETA} * ((g{i}.s{j} / {_LR_GSC}) / nn.n) AS w{j}"
            for j in range(_LR_NF)
        )
        ctes.append(
            f"t{i + 1} AS MATERIALIZED (SELECT {ws} FROM t{i}, g{i}, nn)"
        )
    return ctes


def _sql_lr_scored() -> str:
    """CTE chain ending in ``scored`` (doc_id, source, n_tokens,
    score, label, pred) under the final trained weights."""
    tfin = f"t{_LR_ROUNDS}"
    z = " + ".join(f"{tfin}.w{j} * f.x{j}" for j in range(_LR_NF))
    p = f"floor((1.0 / (1.0 + exp(-({z})))) * {_LR_PSC}) / {_LR_PSC}"
    return (
        ",\n".join(_sql_lr_train_ctes())
        + f""",
    scored AS (
      SELECT f.doc_id, f.source, f.n_tokens, {p} AS score,
             CAST(f.y AS BIGINT) AS label,
             CAST(CASE WHEN {p} >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS pred
      FROM feats f, {tfin}
    )"""
    )


def _sql_lr_topk() -> str:
    return (
        "WITH "
        + _sql_lr_scored()
        + f"""
    SELECT doc_id, score, label, pred
    FROM scored ORDER BY score DESC, doc_id LIMIT {_LR_TOPK}
    """
    )


def _sql_lr_eval() -> str:
    return (
        "WITH "
        + _sql_lr_scored()
        + """
    SELECT label, pred, CAST(count(*) AS BIGINT) AS n
    FROM scored GROUP BY label, pred ORDER BY label, pred
    """
    )


def _sql_curriculum() -> str:
    return (
        "WITH "
        + _sql_lr_scored()
        + """,
    staged AS (
      SELECT CAST(CASE WHEN score >= 0.75 THEN 0
                       WHEN score >= 0.5 THEN 1
                       WHEN score >= 0.25 THEN 2
                       ELSE 3 END AS BIGINT) AS stage,
             source, label, score, n_tokens
      FROM scored
    )
    SELECT stage, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(label) AS BIGINT) AS n_pos,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           min(score) AS min_score, max(score) AS max_score
    FROM staged GROUP BY stage, source ORDER BY stage, source
    """
    )


def _lr_feats_over(d):
    """Spark twin of the feats CTE over ANY (doc_id, n_chars, source,
    text) frame — batch and stream share this one definition, so the
    streaming scorer cannot drift from the batch oracle."""
    t = tx.tokens("text")
    tokd = d.select("doc_id", "n_chars", "source", t.alias("t"))
    nt = F.size("t")
    return tokd.select(
        "doc_id",
        "source",
        F.when(F.col("n_chars") >= 300, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
        F.lit(1.0).alias("x0"),
        (tx.stopword_hits(F.col("t"), "en") * F.lit(1.0) / nt).alias("x1"),
        (nt / F.lit(100.0)).alias("x2"),
        (
            (F.length(F.concat_ws("", F.col("t"))) * F.lit(1.0) / nt)
            / F.lit(8.0)
        ).alias("x3"),
        (F.size(F.array_distinct("t")) * F.lit(1.0) / nt).alias("x4"),
        nt.cast("long").alias("n_tokens"),
    )


def _lr_feats_df(spark, sf_dir):
    return _lr_feats_over(T(spark, sf_dir, "documents"))


def _lr_sigmoid_q(weights: list[float]):
    """Quantized-sigmoid score Column under literal weights, with the
    SAME association order and quantization text as the oracle."""
    z = F.lit(weights[0]) * F.col("x0")
    for j in range(1, _LR_NF):
        z = z + F.lit(weights[j]) * F.col(f"x{j}")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return F.floor(p * F.lit(_LR_PSC)) / F.lit(_LR_PSC)


def _lr_train_weights(feats) -> list[float]:
    """Full-batch GD, ``_LR_ROUNDS`` rounds: per round ONE codegen
    aggregate of _LR_NF fixed-point BIGINT gradient sums (map-side
    combined; order-independent at any partitioning) and a 1-row
    collect — the broadcast-iterate pattern. Weight arithmetic is the
    byte-identical IEEE sequence the oracle's t{i} CTEs run."""
    n = float(feats.count())
    w = [0.0] * _LR_NF
    for _ in range(_LR_ROUNDS):
        p = _lr_sigmoid_q(w)
        sums = feats.agg(
            *[
                F.sum(
                    F.floor(
                        (p - F.col("y")) * F.col(f"x{j}") * F.lit(_LR_GSC)
                    ).cast("long")
                ).alias(f"s{j}")
                for j in range(_LR_NF)
            ]
        ).collect()[0]
        w = [
            w[j] - _LR_ETA * ((sums[f"s{j}"] / _LR_GSC) / n)
            for j in range(_LR_NF)
        ]
    return w


def ensure_lr_model(spark, sf_dir, root: str | None = None) -> list[float]:
    """Build-if-absent-or-stale trained-classifier artifact: the
    _LR_NF learned weights as a fingerprinted JSON sidecar (the
    ensure_power_dirs / ensure_bpe_vocab shape — the 'model registry'
    of this engine). Training's _LR_ROUNDS corpus aggregates amortize
    across the three serving entries and across runs; staleness
    (corpus or hyperparameters change) retrains. JSON round-trips
    IEEE doubles exactly, so served weights are bit-equal to a fresh
    training run — the shared oracle (which always unrolls training)
    is the standing proof."""
    from lol_data_pipeline_spark.caching import tracked_persist
    from lol_data_pipeline_spark.operators import artifact

    # EVERY constant that changes the trained weights must key the
    # sidecar: gsc/psc (fixed-point scales) and the feature recipe
    # included so a hyperparameter or feature change can never serve
    # stale weights (advice r11 — the SQL oracle always unrolls with
    # current constants, so a stale sidecar is a warm-only parity
    # failure a fresh checkout cannot reproduce)
    params = {
        "rounds": _LR_ROUNDS,
        "eta": _LR_ETA,
        "nf": _LR_NF,
        "gsc": _LR_GSC,
        "psc": _LR_PSC,
        "features": "v1:bias,stopratio,ntok/100,avgtoklen/8,distinctratio",
        "label": "n_chars>=300",
    }

    def build(path: str) -> dict:
        w = _lr_train_weights(tracked_persist(_lr_feats_df(spark, sf_dir)))
        return artifact.save_meta(path, "qlr", {
            "fingerprint": artifact.source_fingerprint(sf_dir, "documents"),
            "params": params,
            "weights": w,
        })

    _path, meta = artifact.ensure("qlr", sf_dir, "documents", params, build, root)
    return [float(x) for x in meta["weights"]]


def _lr_scored_over(d, w):
    """Score ANY document frame under literal weights — the one
    scoring definition batch entries and the streaming scorer share
    (stateless pure projection: no state, no shuffle)."""
    feats = _lr_feats_over(d)
    score = _lr_sigmoid_q(w)
    return feats.select(
        "doc_id",
        "source",
        "n_tokens",
        score.alias("score"),
        F.col("y").cast("long").alias("label"),
        F.when(score >= 0.5, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("pred"),
    )


def _lr_scored_df(spark, sf_dir):
    """Scored corpus under the SERVED model: weights come from the
    artifact (training runs only on a cold/stale sidecar), scoring is
    one pure-projection scan."""
    return _lr_scored_over(
        T(spark, sf_dir, "documents"), ensure_lr_model(spark, sf_dir)
    )


@query("corpus_quality_logreg", sql=_sql_lr_topk())
def corpus_quality_logreg(spark, sf_dir):
    """TRAIN a linear quality/language classifier on the corpus and
    score it — the fastText-style filter stage of an LLM data
    pipeline (labels: the is-English signal; features: stopword
    ratio, token count, mean token length, distinct ratio — all
    exact-rational Column arithmetic). Training is full-batch
    logistic-regression GD: per round one codegen aggregate whose
    shuffle is {nf} partial BIGINT rows at any corpus size
    (fixed-point integer gradient sums — the kmeans/power-iteration
    determinism recipe) plus a 1-row collect; the learned weights
    ride as driver literals and scoring is a pure projection. The
    sigmoid is quantized to a 2^-12 grid before the gradient so the
    one transcendental (exp) can never leak an engine ulp into the
    BIGINT sums. The trained weights persist as a fingerprinted
    sidecar (ensure_lr_model — the model-registry shape), so the
    serving entries pay training only on a cold or stale artifact.
    Returns the top-{k} highest-scoring docs; the oracle unrolls
    every round."""
    return (
        _lr_scored_df(spark, sf_dir)
        .select("doc_id", "score", "label", "pred")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_LR_TOPK)
    )


@query("corpus_quality_logreg_eval", sql=_sql_lr_eval())
def corpus_quality_logreg_eval(spark, sf_dir):
    """Confusion matrix of the trained quality classifier over the
    full corpus (label × pred counts) — the evaluation row that
    decides whether the filter ships. One map-side-combined aggregate
    over a 4-key domain on top of the pure-projection scoring scan."""
    return (
        _lr_scored_df(spark, sf_dir)
        .groupBy("label", "pred")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("label", "pred")
    )


@query("corpus_curriculum_stages", sql=_sql_curriculum())
def corpus_curriculum_stages(spark, sf_dir):
    """Curriculum schedule from the trained classifier: fixed score
    bands (≥.75, ≥.5, ≥.25, rest) stage the corpus easiest-first, and
    the (stage × source) rollup — doc count, positive count, token
    mass, score bounds — is the sampling plan a curriculum/mixture
    trainer consumes. Banding is a pure projection (no global
    window; a quantile-staged variant needs only 3 broadcast boundary
    literals), and the rollup aggregates a bounded key domain with
    order-independent integer sums + min/max."""
    scored = _lr_scored_df(spark, sf_dir)
    staged = scored.select(
        F.when(F.col("score") >= 0.75, F.lit(0))
        .when(F.col("score") >= 0.5, F.lit(1))
        .when(F.col("score") >= 0.25, F.lit(2))
        .otherwise(F.lit(3))
        .cast("long")
        .alias("stage"),
        "source",
        "label",
        "score",
        "n_tokens",
    )
    return (
        staged.groupBy("stage", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("label").cast("long").alias("n_pos"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("stage", "source")
    )


# ---------------------------------------------------------------------------
# text_bpe_stats_served — vocabulary utilization off the persisted
# tokenizer artifact.
# ---------------------------------------------------------------------------

_BPE_STATS_TOPK = 20


def _sql_bpe_stats() -> str:
    from lol_data_pipeline_spark.plans.round9 import (
        _BPE_ROUNDS,
        _bpe_train_ctes,
    )

    return (
        "WITH "
        + ",\n".join(_bpe_train_ctes())
        + f""",
    toks AS (
      SELECT unnest(list_filter(string_split(w, chr(183)), x -> x <> '')) AS token, n
      FROM w{_BPE_ROUNDS}
    )
    SELECT token, CAST(sum(n) AS BIGINT) AS cnt,
           CAST(length(token) AS BIGINT) AS token_len,
           length(token) > 1 AS is_merged
    FROM toks GROUP BY token
    ORDER BY cnt DESC, token LIMIT {_BPE_STATS_TOPK}
    """
    )


@query("text_bpe_stats_served", sql=_sql_bpe_stats())
def text_bpe_stats_served(spark, sf_dir):
    """Vocabulary-utilization stats off the PERSISTED tokenizer: the
    top-{k} symbols by corpus occurrence mass after applying the
    artifact's merges — which learned merges actually carry weight
    (is_merged) vs base characters. This is the tokenizer-health
    monitoring row: a merged symbol falling out of the head, or base
    chars dominating, means the vocabulary no longer fits the corpus
    and ensure_bpe_vocab's staleness rebuild is due. Runs entirely on
    the DISTINCT-WORD table weighted by frequency (vocabulary-sized,
    Heaps' law ~N^0.5 — the corpus is never rescanned) with the
    merges as driver literals from the sidecar; the oracle re-derives
    training and reproduces the same symbol unnest."""
    from lol_data_pipeline_spark.operators.bpe import (
        SEP,
        _apply_merge,
        corpus_words,
        ensure_bpe_vocab,
        vocab_merges,
    )
    from lol_data_pipeline_spark.plans.round9 import _BPE_ROUNDS

    _path, meta = ensure_bpe_vocab(spark, sf_dir, rounds=_BPE_ROUNDS)
    words = corpus_words(T(spark, sf_dir, "documents"))
    wcol = F.col("w")
    for _i, l, r, _m, _c in vocab_merges(meta):
        wcol = _apply_merge(wcol, l, r)
    syms = F.filter(F.split(wcol, SEP), lambda x: x != F.lit(""))
    return (
        words.select(F.explode(syms).alias("token"), "n")
        .groupBy("token")
        .agg(F.sum("n").cast("long").alias("cnt"))
        .select(
            "token",
            "cnt",
            F.length("token").cast("long").alias("token_len"),
            (F.length("token") > 1).alias("is_merged"),
        )
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(_BPE_STATS_TOPK)
    )


# ---------------------------------------------------------------------------
# corpus_mixture_temperature — temperature-scaled domain sampling
# weights from per-source token mass.
# ---------------------------------------------------------------------------

_MIX_TAU = 0.7
_MIX_QSC = 1048576.0  # 2^20 grid for the one transcendental (pow)


def _sql_mixture_temp() -> str:
    from lol_data_pipeline_spark.plans.extensions import SQL_TOKS

    return f"""
    WITH tok AS (SELECT source, len({SQL_TOKS}) AS nt FROM documents),
    m AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS tokens
      FROM tok GROUP BY 1
    ),
    t AS (SELECT sum(tokens) AS tt FROM m),
    q AS (
      SELECT m.source, m.n_docs, m.tokens,
             (m.tokens * 1.0 / t.tt) AS share_raw,
             floor(pow((m.tokens * 1.0 / t.tt), {_MIX_TAU}) * {_MIX_QSC}) / {_MIX_QSC} AS qt
      FROM m, t
    ),
    s AS (SELECT sum(qt) AS st FROM q)
    SELECT q.source, q.n_docs, q.tokens, q.share_raw,
           (q.qt / s.st) AS weight_temp
    FROM q, s ORDER BY q.source
    """


def _mixture_df(spark, sf_dir):
    """(source, n_docs, tokens, share_raw, weight_temp): the one
    mixture-weight definition the temperature entry and the shard
    apportionment share."""
    from lol_data_pipeline_spark.functions import text as tx2

    d = T(spark, sf_dir, "documents")
    # NOT persisted: the totals re-derive the per-source aggregate,
    # but the toggle A/B measured the rescan cheaper than caching
    # (0.85 s vs 1.43 s at sf0.1) — same finding as the drift entry:
    # narrow fused scans beat a materialization barrier at this width
    m = (
        d.select("source", F.size(tx2.tokens("text")).alias("nt"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("tokens"),
        )
    )
    t = m.agg(F.sum("tokens").alias("tt"))
    share = F.col("tokens") * F.lit(1.0) / F.col("tt")
    q = m.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "tokens",
        share.alias("share_raw"),
        (
            F.floor(F.pow(share, F.lit(_MIX_TAU)) * F.lit(_MIX_QSC))
            / F.lit(_MIX_QSC)
        ).alias("qt"),
    )
    s = q.agg(F.sum("qt").alias("st"))
    return (
        q.crossJoin(F.broadcast(s))
        .select(
            "source",
            "n_docs",
            "tokens",
            "share_raw",
            (F.col("qt") / F.col("st")).alias("weight_temp"),
        )
    )


@query("corpus_mixture_temperature", sql=_sql_mixture_temp())
def corpus_mixture_temperature(spark, sf_dir):
    """Temperature-scaled DOMAIN MIXTURE weights — the multinomial
    sampling distribution multi-domain pretraining uses (p_s ∝
    share_s^τ, τ={tau}: the unigram-LM / multilingual-sampling
    recipe that upsamples tail domains relative to raw token share).
    One map-side-combined aggregate per source (bounded key domain),
    two 1-row totals broadcast back — nothing corpus-sized moves.
    Determinism across engines: the raw shares are exact rationals;
    pow (the one transcendental) is floor-quantized to a 2^-20 grid,
    and the grid values are exact binary fractions whose small-count
    sum is exact in double on ANY aggregation order, so the final
    normalization divides bit-identical doubles in both engines."""
    return _mixture_df(spark, sf_dir).orderBy("source")


# ---------------------------------------------------------------------------
# stream_quality_score_multibatch — the trained classifier serving a
# document stream.
# ---------------------------------------------------------------------------


def _sql_stream_quality() -> str:
    return (
        "WITH "
        + _sql_lr_scored()
        + """
    SELECT doc_id, score, label, pred FROM scored ORDER BY doc_id
    """
    )


@query("stream_quality_score_multibatch", sql=_sql_stream_quality())
def stream_quality_score_multibatch(spark, sf_dir):
    """STREAMING model serving: documents arrive as a four-batch
    ordered replay and are scored by the FROZEN persisted classifier
    (ensure_lr_model's sidecar weights as literals) — the ingest-time
    quality gate of a production pipeline: train in batch, serve on
    the stream, never retrain in the hot path. The per-batch
    transform is STATELESS pure projection (no watermark, no state
    store, no shuffle inside a micro-batch — the cheapest streaming
    operator shape), so any batch split yields the same rows; scoring
    shares _lr_scored_over with the batch entries, so stream and
    batch provably cannot drift. Oracle: the batch scoring of the
    whole corpus — streamed micro-batches must union to exactly the
    batch answer."""
    from lol_data_pipeline_spark.streaming.windows import replay_multibatch

    w = ensure_lr_model(spark, sf_dir)
    docs = T(spark, sf_dir, "documents")
    parts = [docs.filter(F.col("doc_id") % 4 == i) for i in range(4)]

    def build(stream):
        return _lr_scored_over(stream, w).select(
            "doc_id", "score", "label", "pred"
        )

    return replay_multibatch(
        spark, parts, build, mode="append", key=f"quality_score:{sf_dir}"
    )


# ---------------------------------------------------------------------------
# graph_label_prop_served — semi-supervised label propagation over
# the persisted kNN graph.
# ---------------------------------------------------------------------------

_LP_SEED_MOD = 5  # labels known for vec_id % 5 == 0 (20% seed set)
_LP_ROUNDS = 2


def _sql_label_prop() -> str:
    from lol_data_pipeline_spark.plans.extensions import (
        _GRAPH_K,
        E_CTE,
        knn_edge_ctes,
    )

    ctes = [E_CTE] + knn_edge_ctes("e")
    ctes.append(
        f"gedges AS (SELECT src_id, dst_id FROM granked WHERE rank <= {_GRAPH_K})"
    )
    ctes.append(
        f"l0 AS (SELECT vec_id, CAST(label AS BIGINT) AS lab FROM embeddings "
        f"WHERE vec_id % {_LP_SEED_MOD} = 0)"
    )
    for r in range(1, _LP_ROUNDS + 1):
        prev = f"l{r - 1}"
        ctes.append(f"""n{r} AS (
      SELECT g.src_id AS vec_id, l.lab, CAST(count(*) AS BIGINT) AS c
      FROM gedges g JOIN {prev} l ON g.dst_id = l.vec_id
      WHERE g.src_id NOT IN (SELECT vec_id FROM {prev})
      GROUP BY 1, 2
    )""")
        ctes.append(f"""p{r} AS (
      SELECT vec_id, lab FROM (
        SELECT vec_id, lab,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY c DESC, lab) AS rn
        FROM n{r}
      ) WHERE rn = 1
    )""")
        ctes.append(
            f"l{r} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM p{r})"
        )
    rounds_union = "\n    UNION ALL ".join(
        f"SELECT vec_id, lab AS label, CAST({r} AS BIGINT) AS round FROM p{r}"
        for r in range(1, _LP_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    {rounds_union}
    ORDER BY vec_id
    """
    )


@query("graph_label_prop_served", sql=_sql_label_prop())
def graph_label_prop_served(spark, sf_dir):
    """Semi-supervised LABEL PROPAGATION over the persisted kNN
    graph: labels are known for a 20% deterministic seed set
    (vec_id % {m} == 0); each round, every still-unlabeled node
    adopts the MAJORITY label among its currently-labeled graph
    neighbours (count desc, tie → smallest label) and the adopted
    set freezes — committed propagation, so {r} rounds are {r}
    bounded joins, not a fixed-point search. The classic cheap
    labeler for pretraining-corpus metadata (domain/topic tags from
    a small curated seed set, propagated through embedding
    similarity). The graph comes from the AT-REST artifact (edge
    scan: 2 small columns; the Σ bucket² build cost was paid once at
    index time) — in-query work per round is one id-equi edge join
    + an id anti-join + a bounded-key majority aggregate, nothing
    corpus² anywhere. Returns propagated (non-seed) labels with the
    round that committed them; the oracle re-derives the graph and
    unrolls both rounds."""
    from pyspark.sql import Window

    from lol_data_pipeline_spark.caching import tracked_persist
    from lol_data_pipeline_spark.operators.graph_index import (
        ensure_knn_graph_index,
        read_edges,
    )
    from lol_data_pipeline_spark.plans.round11 import (
        _GRAPH_K,
        _GRAPH_PLANES,
    )

    path, _meta = ensure_knn_graph_index(
        spark, sf_dir, n_planes=_GRAPH_PLANES, k=_GRAPH_K
    )
    edges = tracked_persist(
        read_edges(spark, path)
        .filter(F.col("rank") <= _GRAPH_K)
        .select("src_id", "dst_id")
    )
    emb = T(spark, sf_dir, "embeddings")
    labeled = emb.filter(F.col("vec_id") % _LP_SEED_MOD == 0).select(
        "vec_id", F.col("label").cast("long").alias("lab")
    )
    out = None
    w = Window.partitionBy("src_id").orderBy(F.desc("c"), F.asc("lab"))
    for r in range(1, _LP_ROUNDS + 1):
        nbr = edges.join(
            labeled.withColumnRenamed("vec_id", "dst_id"), "dst_id"
        ).select("src_id", "lab")
        nbr = nbr.join(
            labeled.select(F.col("vec_id").alias("src_id")),
            "src_id",
            "left_anti",
        )
        # persist each round's committed labels: they feed BOTH the
        # next round's labeled set and the output union, and the
        # persist truncates the per-round lineage growth
        new = tracked_persist(
            nbr.groupBy("src_id", "lab")
            .agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("src_id").alias("vec_id"), "lab")
        )
        labeled = labeled.unionByName(new)
        tagged = new.select(
            "vec_id", "lab", F.lit(r).cast("long").alias("round")
        )
        out = tagged if out is None else out.unionByName(tagged)
    return out.select(
        "vec_id", F.col("lab").alias("label"), "round"
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# stream_semdedup_probe_multibatch — ingest-time semantic near-dup
# gating against the persisted IVF cells.
# ---------------------------------------------------------------------------

_SDP_MOD = 5  # the arriving batch: vec_id % 5 == 0


def _sql_semdedup_probe() -> str:
    from lol_data_pipeline_spark.plans.extensions import SQL_COS
    from lol_data_pipeline_spark.plans.round9 import _CB_CELLS, _codebook_ctes

    ctes = _codebook_ctes()
    cells = _CB_CELLS
    sim = SQL_COS.format(a="q.x", b="s.x")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    q AS (SELECT vec_id, x, cluster FROM {cells} WHERE vec_id % {_SDP_MOD} = 0),
    s AS (SELECT vec_id, x, cluster FROM {cells} WHERE vec_id % {_SDP_MOD} <> 0)
    SELECT q.vec_id, s.vec_id AS match_id, {sim} AS sim,
           CAST(q.cluster AS BIGINT) AS cell_id
    FROM q JOIN s ON s.cluster = q.cluster
    WHERE {sim} >= {_SD_TAU}
    ORDER BY 1, 2
    """
    )


@query("stream_semdedup_probe_multibatch", sql=_sql_semdedup_probe())
def stream_semdedup_probe_multibatch(spark, sf_dir):
    """STREAMING semantic near-dup gating: the arriving vector batch
    (vec_id % {m} == 0) replays as four ordered micro-batches; each
    epoch assigns ONLY its vectors to the FROZEN persisted codebook
    (pure projection against sidecar literals — the
    stream_ann_assign equivalence), probes the standing in-cell
    members (an id-equi join against the index's 2-column node scan,
    vectors fetched once outside the stream), and writes flagged
    pairs to an epoch-partitioned sink (overwrite per epoch —
    exactly-once by idempotence). Stateless per batch, so the union
    of epochs equals the one-shot asymmetric probe — the oracle is
    that batch answer (new × standing within-cell pairs ≥ τ). At
    100 TB this is the ingest-time SemDeDup gate: per trigger,
    batch-sized assignment + a cell-local candidate join; the
    standing corpus is never re-scanned per epoch and no streaming
    state accumulates."""
    import os

    from lol_data_pipeline_spark.caching import tracked_persist
    from lol_data_pipeline_spark.operators import similarity as sim
    from lol_data_pipeline_spark.operators.clustering import _assign_expr
    from lol_data_pipeline_spark.operators.vector_index import (
        ensure_ivfpq_index,
    )
    from lol_data_pipeline_spark.plans.round9 import _INDEX_PARAMS
    from lol_data_pipeline_spark.streaming.sinks import replay_epochs

    path, meta = ensure_ivfpq_index(spark, sf_dir, **_INDEX_PARAMS)
    emb = sim.with_norm(T(spark, sf_dir, "embeddings"), "embedding")
    standing = tracked_persist(
        spark.read.parquet(path)
        .filter(F.col("vec_id") % _SDP_MOD != 0)
        .select(
            F.col("cell_id").cast("long").alias("cell_id"),
            F.col("vec_id").alias("match_id"),
        )
        .join(
            emb.select(
                F.col("vec_id").alias("match_id"),
                F.col("embedding").alias("vb"),
                F.col("nrm").alias("nb"),
            ),
            "match_id",
        )
    )
    batch = emb.filter(F.col("vec_id") % _SDP_MOD == 0).select(
        "vec_id", "embedding", "nrm"
    )
    parts = [
        batch.filter(F.pmod(F.col("vec_id"), F.lit(_SDP_MOD * 4)) == i * _SDP_MOD)
        for i in range(4)
    ]
    out = os.path.join(
        os.path.dirname(path), f"stream_sdprobe_{os.path.basename(path)}"
    )
    cents = [
        (int(c), [float(v) for v in cv]) for c, cv in meta["cents"]
    ]

    def probe(df):
        x = F.col("embedding").cast("array<double>")
        assigned = df.select(
            "vec_id",
            F.col("embedding").alias("va"),
            F.col("nrm").alias("na"),
            _assign_expr(x, sim.dot(x, x), cents).cast("long").alias(
                "cell_id"
            ),
        )
        return (
            assigned.join(standing, "cell_id")
            .select(
                "vec_id",
                "match_id",
                F.round(
                    sim.dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb")),
                    6,
                ).alias("sim"),
                "cell_id",
            )
            .filter(F.col("sim") >= _SD_TAU)
        )

    return (
        replay_epochs(spark, parts, probe, out, f"sdprobe:{sf_dir}")
        .select("vec_id", "match_id", "sim", "cell_id")
        .orderBy("vec_id", "match_id")
    )


# ---------------------------------------------------------------------------
# retrieval_hard_negatives_served — contrastive-training negatives
# mined from the served index's candidate band below the positives.
# ---------------------------------------------------------------------------

_NEG = 5  # negatives per query: the (k, k+_NEG] band


def _sql_hard_negatives() -> str:
    from lol_data_pipeline_spark.plans.round9 import _K, _sql_ivfpq_kmeans

    return _sql_ivfpq_kmeans(
        rank_pred=f"rank > {_K} AND rank <= {_K + _NEG}"
    )


@query("retrieval_hard_negatives_served", sql=_sql_hard_negatives())
def retrieval_hard_negatives_served(spark, sf_dir):
    """HARD-NEGATIVE MINING off the served IVF+PQ index: for each
    query, the candidates ranked just BELOW the top-k positives —
    near-misses similar enough to fool a retriever, the standard
    negative set for contrastive retriever/embedding training (the
    DPR/ANCE recipe, run as a batch pipeline stage). Implementation
    is the served top-k plan verbatim with a widened k and the
    refine budget rescaled so the ADC candidate band (refine·k = 20)
    is IDENTICAL to the flagship's — the negatives come from the
    same candidate list production serving ranks, just the next band
    down. The oracle is the flagship chain with the final rank
    window swapped to (k, k+neg]."""
    from lol_data_pipeline_spark.operators.vector_index import (
        served_ivfpq_topk,
    )
    from lol_data_pipeline_spark.plans.round9 import (
        _K,
        _NPROBE,
        _REFINE,
        _fair_queries,
    )

    k2 = _K + _NEG
    refine2, rem = divmod(_REFINE * _K, k2)
    assert rem == 0, "band must equal the flagship's refine*k"
    queries = _fair_queries(T(spark, sf_dir, "embeddings"))
    return served_ivfpq_topk(
        spark, sf_dir, queries, k=k2, refine=refine2, nprobe=_NPROBE
    ).filter(F.col("rank") > _K)


# ---------------------------------------------------------------------------
# corpus_mixture_shard_plan — the temperature weights turned into an
# integral shard allocation (largest-remainder apportionment).
# ---------------------------------------------------------------------------

_SHARDS_TOTAL = 64


def _sql_mixture_shards() -> str:
    from lol_data_pipeline_spark.plans.extensions import SQL_TOKS

    s = _SHARDS_TOTAL
    return f"""
    WITH tok AS (SELECT source, len({SQL_TOKS}) AS nt FROM documents),
    m AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS tokens
      FROM tok GROUP BY 1
    ),
    t AS (SELECT sum(tokens) AS tt FROM m),
    q AS (
      SELECT m.source, m.n_docs, m.tokens,
             floor(pow((m.tokens * 1.0 / t.tt), {_MIX_TAU}) * {_MIX_QSC}) / {_MIX_QSC} AS qt
      FROM m, t
    ),
    sq AS (SELECT sum(qt) AS st FROM q),
    w AS (
      SELECT q.source, q.n_docs, q.tokens, (q.qt / sq.st) AS weight_temp
      FROM q, sq
    ),
    alloc AS (
      SELECT source, n_docs, tokens, weight_temp,
             CAST(floor(weight_temp * {s}) AS BIGINT) AS base,
             weight_temp * {s} - floor(weight_temp * {s}) AS rem
      FROM w
    ),
    lo AS (SELECT {s} - sum(base) AS leftover FROM alloc),
    r AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr
      FROM alloc
    )
    SELECT r.source, r.n_docs, r.tokens, r.weight_temp,
           CAST(r.base + CASE WHEN r.rr <= lo.leftover THEN 1 ELSE 0 END AS BIGINT) AS n_shards
    FROM r, lo ORDER BY r.source
    """


@query("corpus_mixture_shard_plan", sql=_sql_mixture_shards())
def corpus_mixture_shard_plan(spark, sf_dir):
    """The temperature mixture turned into an INTEGRAL shard
    allocation: {s} output shards apportioned across sources by
    largest-remainder rounding of the τ-scaled weights (floor each
    source's fair share, then hand the leftover shards to the
    largest fractional remainders, ties → source asc) — the writer
    manifest a mixture-aware sharding job executes, guaranteed to
    sum exactly to {s} with every source's count within one shard of
    its fair share. Same bounded shapes as
    corpus_mixture_temperature (per-source aggregate + 1-row scalar
    broadcasts) plus one window over the ≤|sources| allocation frame
    — bounded by construction, never corpus-sized."""
    from pyspark.sql import Window

    s = _SHARDS_TOTAL
    mix = _mixture_df(spark, sf_dir)
    alloc = mix.select(
        "source",
        "n_docs",
        "tokens",
        "weight_temp",
        F.floor(F.col("weight_temp") * s).cast("long").alias("base"),
        (
            F.col("weight_temp") * s - F.floor(F.col("weight_temp") * s)
        ).alias("rem"),
    )
    lo = alloc.agg((F.lit(s) - F.sum("base")).alias("leftover"))
    w = Window.orderBy(F.desc("rem"), F.asc("source"))
    return (
        alloc.withColumn("rr", F.row_number().over(w))
        .crossJoin(F.broadcast(lo))
        .select(
            "source",
            "n_docs",
            "tokens",
            "weight_temp",
            (
                F.col("base")
                + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_shards"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# dq_model_score_drift — PSI drift of the served model's score
# distribution between two corpus cohorts.
# ---------------------------------------------------------------------------

_DRIFT_BINS = 8


def _sql_model_drift() -> str:
    from lol_data_pipeline_spark.plans.behavior import _PSI_TERM

    b = _DRIFT_BINS
    return (
        "WITH "
        + _sql_lr_scored()
        + f""",
    binned AS (
      SELECT doc_id % 2 AS cohort,
             CAST(floor(score * {b}) AS BIGINT) AS bin
      FROM scored
    ),
    spine AS (SELECT unnest(generate_series(0, {b - 1})) AS bin),
    ca AS (
      SELECT s.bin, CAST(COALESCE(c.n, 0) AS BIGINT) AS bin_a FROM spine s
      LEFT JOIN (SELECT bin, count(*) AS n FROM binned WHERE cohort = 0 GROUP BY 1) c
      USING (bin)
    ),
    cb AS (
      SELECT s.bin, CAST(COALESCE(c.n, 0) AS BIGINT) AS bin_b FROM spine s
      LEFT JOIN (SELECT bin, count(*) AS n FROM binned WHERE cohort = 1 GROUP BY 1) c
      USING (bin)
    ),
    tot AS (
      SELECT CAST(sum(bin_a) AS BIGINT) AS n_a FROM ca
    ),
    totb AS (
      SELECT CAST(sum(bin_b) AS BIGINT) AS n_b FROM cb
    ),
    terms AS (
      SELECT ca.bin, ca.bin_a, cb.bin_b, tot.n_a, totb.n_b
      FROM ca JOIN cb USING (bin), tot, totb
    )
    SELECT CAST(max(n_a) AS BIGINT) AS n_a,
           CAST(max(n_b) AS BIGINT) AS n_b,
           CAST(floor((CAST(sum({_PSI_TERM}) AS DOUBLE) / CAST(1000000000 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS psi
    FROM terms
    """
    )


@query("dq_model_score_drift", sql=_sql_model_drift())
def dq_model_score_drift(spark, sf_dir):
    """MODEL-SCORE DRIFT monitoring: PSI between the served
    classifier's score distributions over two corpus cohorts
    (doc_id parity standing in for yesterday/today snapshots) on a
    fixed {b}-band score grid — the production alarm that the model
    or the corpus moved and the quality filter needs requalifying
    (the stat_psi_drift formula, pointed at the model artifact's
    output instead of raw event values; >0.25 = significant shift).
    One scoring scan + two bounded-bin aggregates + the shared
    fixed-point PSI term (each ln term frozen to nano-units before
    the sum, empty bins clamped at 1e-6), so the score stays
    bit-identical across engines."""
    from lol_data_pipeline_spark.plans.behavior import _PSI_TERM

    b = _DRIFT_BINS
    scored = _lr_scored_df(spark, sf_dir)
    # NOT persisted: the two cohort subtrees each rescan the scoring
    # projection, but a same-session toggle A/B measured the double
    # scan CHEAPER than the cache materialization barrier (1.24 s vs
    # 1.90 s at sf0.1) — the projection is narrow and codegen-fused,
    # while caching forces a full materialization between stages
    binned = scored.select(
        F.pmod(F.col("doc_id"), F.lit(2)).alias("cohort"),
        F.floor(F.col("score") * b).cast("long").alias("bin"),
    )
    spine = spark.range(b).select(F.col("id").cast("long").alias("bin"))
    ca = spine.join(
        binned.filter(F.col("cohort") == 0)
        .groupBy("bin")
        .agg(F.count("*").alias("n")),
        "bin",
        "left",
    ).select("bin", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("bin_a"))
    cb = spine.join(
        binned.filter(F.col("cohort") == 1)
        .groupBy("bin")
        .agg(F.count("*").alias("n")),
        "bin",
        "left",
    ).select("bin", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("bin_b"))
    tot = ca.agg(F.sum("bin_a").cast("long").alias("n_a"))
    totb = cb.agg(F.sum("bin_b").cast("long").alias("n_b"))
    terms = (
        ca.join(cb, "bin")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(totb))
    )
    return terms.agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        (
            F.floor(
                (
                    F.sum(F.expr(_PSI_TERM)).cast("double")
                    / F.lit(1000000000.0).cast("double")
                )
                * 1000000
                + 0.5
            ).cast("long")
            / F.lit(1000000.0).cast("double")
        ).alias("psi"),
    )


# ---------------------------------------------------------------------------
# text_bpe_fertility_served — per-source tokens/word off the
# persisted tokenizer (which domains the vocabulary serves poorly).
# ---------------------------------------------------------------------------


def _sql_bpe_fertility() -> str:
    from lol_data_pipeline_spark.plans.queries import snap_sql
    from lol_data_pipeline_spark.plans.round9 import _BPE_ROUNDS
    from lol_data_pipeline_spark.plans.round10 import _sql_bpe_doc_ctes

    fert = snap_sql("CAST(toks AS DOUBLE) / words")
    return (
        "WITH "
        + ",\n".join(_sql_bpe_doc_ctes())
        + f""",
    agg AS (
      SELECT d.source,
             CAST(count(*) AS BIGINT) AS words,
             CAST(sum(len(list_filter(string_split(w.w, chr(183)), x -> x <> ''))) AS BIGINT) AS toks
      FROM dw{_BPE_ROUNDS} w JOIN documents d USING (doc_id)
      GROUP BY 1
    )
    SELECT source, words, toks, {fert} AS fertility
    FROM agg ORDER BY source
    """
    )


@query("text_bpe_fertility_served", sql=_sql_bpe_fertility())
def text_bpe_fertility_served(spark, sf_dir):
    """Tokenizer FERTILITY by domain off the PERSISTED vocabulary:
    tokens-per-word for each source after applying the artifact's
    merges — the monitoring row that shows WHICH domains the learned
    vocabulary compresses poorly (high fertility = the domain's words
    rarely hit a merge = more tokens per text unit = higher training
    cost for that domain; the canonical multilingual-tokenizer
    equity metric). ONE corpus scan of pure projections with the
    merges as sidecar literals, then a bounded-key per-source
    aggregate of exact integers; fertility is the tie-safe snap of
    an exact rational."""
    from lol_data_pipeline_spark.functions.scalar import snap
    from lol_data_pipeline_spark.operators.bpe import (
        bpe_encode_docs,
        ensure_bpe_vocab,
        vocab_merges,
    )
    from lol_data_pipeline_spark.plans.round9 import _BPE_ROUNDS

    _path, meta = ensure_bpe_vocab(spark, sf_dir, rounds=_BPE_ROUNDS)
    docs = T(spark, sf_dir, "documents")
    enc = bpe_encode_docs(docs, vocab_merges(meta), keep_cols=("source",))
    return (
        enc.groupBy("source")
        .agg(
            F.sum("n_words").cast("long").alias("words"),
            F.sum("bpe_tokens").cast("long").alias("toks"),
        )
        .select(
            "source",
            "words",
            "toks",
            snap(F.col("toks").cast("double") / F.col("words")).alias(
                "fertility"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# corpus_training_data_e2e — the capstone composition: every LEARNED
# stage served from its artifact, end to end.
# ---------------------------------------------------------------------------

_E2E_BUDGET = 2048


def _sql_training_e2e() -> str:
    from lol_data_pipeline_spark.plans.round9 import _BPE_ROUNDS
    from lol_data_pipeline_spark.plans.round10 import _sql_bpe_doc_ctes

    head, _cells = _sql_semdedup_head()
    return (
        head
        + ",\n"
        + _sql_lr_scored()
        + ",\n"
        + ",\n".join(_sql_bpe_doc_ctes())
        + f""",
    survivors AS (
      SELECT s.doc_id, s.source FROM scored s
      WHERE s.pred = 1
        AND s.doc_id NOT IN (SELECT vid FROM keep WHERE rn = 1)
    ),
    etok AS (
      SELECT w.doc_id, sv.source,
             CAST(sum(len(list_filter(string_split(w.w, chr(183)), x -> x <> ''))) AS BIGINT) AS n_tok
      FROM dw{_BPE_ROUNDS} w JOIN survivors sv USING (doc_id)
      GROUP BY 1, 2
    ),
    ecum AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM etok
    )
    SELECT doc_id, source, n_tok,
           CAST((cum - 1) // {_E2E_BUDGET} AS BIGINT) AS bin_id
    FROM ecum ORDER BY source, doc_id
    """
    )


@query("corpus_training_data_e2e", sql=_sql_training_e2e())
def corpus_training_data_e2e(spark, sf_dir):
    """The CAPSTONE training-data pipeline, every learned stage
    SERVED from its persisted artifact: quality-gate the corpus with
    the classifier sidecar (keep pred = 1), drop SemDeDup casualties
    from the IVF index's cells (ids sharing the embedding id space;
    docs without a vector pass through), tokenize survivors with the
    frozen BPE vocabulary, and pack on the REAL token counts into
    {b}-token bins per source (the corpus_pack_bpe_budget window).
    This is the daily production run: no stage retrains or rebuilds
    anything — one model sidecar read, one 2-column index scan, one
    merges sidecar read, one corpus tokenize scan, one pack shuffle.
    The oracle chains all three training derivations (kmeans cells →
    pairs, GD rounds → scores, BPE merges → per-doc tokens) into a
    single CTE graph — the composed proof that serving equals
    training end to end."""
    from pyspark.sql import Window

    from lol_data_pipeline_spark.operators.bpe import (
        bpe_encode_docs,
        ensure_bpe_vocab,
        vocab_merges,
    )
    from lol_data_pipeline_spark.plans.round9 import _BPE_ROUNDS

    kept = (
        _lr_scored_df(spark, sf_dir)
        .filter(F.col("pred") == 1)
        .select("doc_id")
        .join(
            _semdedup_dropped(spark, sf_dir).select(
                F.col("vid").alias("doc_id")
            ),
            "doc_id",
            "left_anti",
        )
    )
    docs = T(spark, sf_dir, "documents").join(kept, "doc_id")
    _path, meta = ensure_bpe_vocab(spark, sf_dir, rounds=_BPE_ROUNDS)
    tok = bpe_encode_docs(docs, vocab_merges(meta), keep_cols=("source",)).select(
        "doc_id", "source", F.col("bpe_tokens").alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tok.select(
        "doc_id",
        "source",
        "n_tok",
        ((F.sum("n_tok").over(w) - 1) / F.lit(_E2E_BUDGET))
        .cast("long")
        .alias("bin_id"),
    ).orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# corpus_quality_logreg_weights — the model registry read: the served
# artifact's coefficients as rows.
# ---------------------------------------------------------------------------

_LR_FEATURE_NAMES = [
    "bias",
    "stopword_ratio",
    "token_count",
    "avg_token_len",
    "distinct_ratio",
]


def _sql_lr_weights() -> str:
    tfin = f"t{_LR_ROUNDS}"
    rows = "\n      UNION ALL ".join(
        f"SELECT CAST({j} AS BIGINT) AS feature_idx, "
        f"'{_LR_FEATURE_NAMES[j]}' AS feature_name, w{j} AS weight FROM {tfin}"
        for j in range(_LR_NF)
    )
    return (
        "WITH "
        + ",\n".join(_sql_lr_train_ctes())
        + f"""
    SELECT * FROM ({rows}) ORDER BY feature_idx
    """
    )


@query("corpus_quality_logreg_weights", sql=_sql_lr_weights())
def corpus_quality_logreg_weights(spark, sf_dir):
    """The MODEL-REGISTRY read: the served classifier's coefficients
    as rows (feature_idx, feature_name, weight) — what a reviewer
    inspects before shipping the filter (is token_count carrying the
    signal? did a feature flip sign since last train?). Serves the
    sidecar (driver-literal rows, no corpus access on a warm
    artifact); the oracle unrolls the full training chain, so this
    row set IS the standing proof that the stored weights equal what
    training produces — the same artifact-equals-training contract
    every served index stamps."""
    w = ensure_lr_model(spark, sf_dir)
    return spark.createDataFrame(
        [
            (j, _LR_FEATURE_NAMES[j], float(w[j]))
            for j in range(_LR_NF)
        ],
        "feature_idx bigint, feature_name string, weight double",
    ).orderBy("feature_idx")


# ---------------------------------------------------------------------------
# stream_mixture_weights_multibatch — the mixture weights MAINTAINED
# by the stream: per-source token-mass GroupState across epochs.
# ---------------------------------------------------------------------------

_MIX_MB_OUTPUT_DDL = "source string, n_docs bigint, tokens bigint"
_MIX_MB_STATE_DDL = "n_docs bigint, tokens bigint"


def _update_source_totals(key, pdfs, state):
    """Running (doc count, token mass) per source — integer state, so
    accumulation is bit-exact under any batch split."""
    import pandas as pd

    if state.exists:
        docs, toks = state.get
    else:
        docs, toks = 0, 0
    for pdf in pdfs:
        docs += len(pdf)
        toks += int(pdf["nt"].sum())
    state.update((docs, toks))
    yield pd.DataFrame(
        {"source": [key[0]], "n_docs": [docs], "tokens": [toks]}
    )


@query("stream_mixture_weights_multibatch", sql=_sql_mixture_temp())
def stream_mixture_weights_multibatch(spark, sf_dir):
    """The domain-mixture weights MAINTAINED BY THE STREAM: documents
    arrive as a four-batch ordered replay, per-source (doc count,
    token mass) accumulates in integer GroupState (restored and added
    to at every trigger — a lost batch or reset state would collapse
    the masses to the last slice's and fail the oracle), and the
    τ-normalization runs on the FINAL state snapshot with the exact
    arithmetic of corpus_mixture_temperature, whose oracle this entry
    shares verbatim. The production shape: the router's sampling
    weights stay current as the corpus grows, with state bounded by
    the SOURCE domain (≤|sources| rows — the cheapest possible
    stateful-aggregate key space), never by document volume."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from lol_data_pipeline_spark.streaming.windows import replay_multibatch

    d = T(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tx.tokens("text")).alias("nt")
    )
    parts = [d.filter(F.col("doc_id") % 4 == i) for i in range(4)]

    def build(stream):
        return stream.groupBy("source").applyInPandasWithState(
            _update_source_totals,
            outputStructType=_MIX_MB_OUTPUT_DDL,
            stateStructType=_MIX_MB_STATE_DDL,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    res = replay_multibatch(
        spark, parts, build, "update", f"mixture_mb:{sf_dir}"
    )
    m = res.groupBy("source").agg(
        F.max("n_docs").cast("long").alias("n_docs"),
        F.max_by("tokens", "n_docs").cast("long").alias("tokens"),
    )
    t = m.agg(F.sum("tokens").alias("tt"))
    share = F.col("tokens") * F.lit(1.0) / F.col("tt")
    q = m.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "tokens",
        share.alias("share_raw"),
        (
            F.floor(F.pow(share, F.lit(_MIX_TAU)) * F.lit(_MIX_QSC))
            / F.lit(_MIX_QSC)
        ).alias("qt"),
    )
    s = q.agg(F.sum("qt").alias("st"))
    return (
        q.crossJoin(F.broadcast(s))
        .select(
            "source",
            "n_docs",
            "tokens",
            "share_raw",
            (F.col("qt") / F.col("st")).alias("weight_temp"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# corpus_semdedup_components — transitive semantic dedup groups.
# ---------------------------------------------------------------------------

_SDC_ITERS = 4


def _sql_semdedup_components() -> str:
    head, _cells = _sql_semdedup_head()
    rounds = []
    prev = "sl0"
    for i in range(1, _SDC_ITERS + 1):
        cur = f"sl{i}"
        rounds.append(f""",
    {cur} AS (
      SELECT l.v, least(l.label, coalesce(m.nl, l.label)) AS label
      FROM {prev} l LEFT JOIN (
        SELECT e.dst AS nv, min(p.label) AS nl
        FROM sedges e JOIN {prev} p ON p.v = e.src GROUP BY 1
      ) m ON m.nv = l.v
    )""")
        prev = cur
    return (
        head
        + f""",
    sedges AS (
      SELECT kid AS src, vid AS dst FROM pairs
      UNION ALL
      SELECT vid AS src, kid AS dst FROM pairs
    ),
    sl0 AS (SELECT DISTINCT src AS v, src AS label FROM sedges){''.join(rounds)},
    ssizes AS (
      SELECT label AS component, CAST(count(*) AS BIGINT) AS group_size
      FROM {prev} GROUP BY 1
    )
    SELECT CAST(l.v AS BIGINT) AS vec_id,
           CAST(l.label AS BIGINT) AS keep_id,
           s.group_size,
           (l.v != l.label) AS drop
    FROM {prev} l JOIN ssizes s ON s.component = l.label
    ORDER BY vec_id
    """
    )


@query("corpus_semdedup_components", sql=_sql_semdedup_components())
def corpus_semdedup_components(spark, sf_dir):
    """TRANSITIVE SemDeDup: connected components of the within-cell
    semantic pair graph (4 rounds of synchronous min-label
    propagation — operators/graph.py, the dedup_components kernel
    pointed at the served assignment's pairs instead of the Jaccard
    graph), emitting each member's canonical keep id, group size,
    and drop verdict. Closes the A~B~C chains the one-hop keeper
    policy of corpus_semdedup leaves open — the difference between
    "drop anything with an earlier near-twin" and "keep exactly one
    per semantic cluster". Pairs cannot cross cells (the graph is
    cell-local by construction), so components are cell-bounded and
    the propagation rounds touch pair-graph vertices only — never
    the corpus. The oracle unrolls the identical 4 integer-only
    rounds over the shared pair CTE."""
    from lol_data_pipeline_spark.operators import graph as g

    pairs = _semdedup_pairs(spark, sf_dir).select(
        F.col("kid").alias("id_a"), F.col("vid").alias("id_b")
    )
    return (
        g.dedup_groups(pairs, iters=_SDC_ITERS)
        .select(
            F.col("doc_id").alias("vec_id"),
            "keep_id",
            "group_size",
            "drop",
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# corpus_quality_calibration — the classifier's reliability curve.
# ---------------------------------------------------------------------------


def _sql_lr_calibration() -> str:
    from lol_data_pipeline_spark.plans.queries import snap_sql

    b = _DRIFT_BINS
    frac = snap_sql("CAST(n_pos AS DOUBLE) / n")
    return (
        "WITH "
        + _sql_lr_scored()
        + f""",
    binned AS (
      SELECT CAST(floor(score * {b}) AS BIGINT) AS band, label
      FROM scored
    ),
    agg AS (
      SELECT band, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS n_pos
      FROM binned GROUP BY 1
    )
    SELECT band, n, n_pos, {frac} AS frac_pos
    FROM agg ORDER BY band
    """
    )


@query("corpus_quality_calibration", sql=_sql_lr_calibration())
def corpus_quality_calibration(spark, sf_dir):
    """The served classifier's RELIABILITY CURVE: per score band
    (the drift entry's fixed {b}-band grid), how often the label is
    actually positive — the calibration check that tells an operator
    whether a 0.8 score means 80% (well-calibrated) or just
    'probably positive' (needs a threshold re-fit before the filter
    gates data). Completes the model-evaluation loop alongside the
    confusion matrix (discrimination) and PSI drift (stability).
    One scoring scan + a bounded-band aggregate of exact integers;
    frac_pos is the tie-safe snap of an exact rational."""
    from lol_data_pipeline_spark.functions.scalar import snap

    b = _DRIFT_BINS
    scored = _lr_scored_df(spark, sf_dir)
    return (
        scored.select(
            F.floor(F.col("score") * b).cast("long").alias("band"),
            "label",
        )
        .groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("label").cast("long").alias("n_pos"),
        )
        .select(
            "band",
            "n",
            "n_pos",
            snap(F.col("n_pos").cast("double") / F.col("n")).alias(
                "frac_pos"
            ),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# corpus_dsir_select — DSIR-style importance ranking toward a target
# distribution over hashed n-gram features.
# ---------------------------------------------------------------------------

_DSIR_B = 256  # hashed-feature buckets
_DSIR_K = 50  # selected documents


def _sql_dsir_ctes() -> str:
    """The WITH-chain through ``ranked`` (per-doc token count, integer
    weight sum, snapped avg importance) — shared by the select and
    sample oracles so the weight derivation exists once."""
    from lol_data_pipeline_spark.plans.extensions import (
        SQL_MD5_LONG,
        SQL_TOKS,
    )

    b = _DSIR_B
    # scientific-notation literals on purpose: Spark's ANSI parser
    # types a bare decimal literal as DECIMAL, and the whole ratio
    # would then compute in truncating decimal arithmetic (measured
    # 0.44 micro-nats off); 1e0/{b}e0 parse as DOUBLE in BOTH engines
    # coalesce BEFORE the +1 smoothing: a bucket with zero target
    # tokens must contribute its smoothed NEGATIVE weight
    # ln((0+1)(nc+B)/((cc+1)(nt+B))), not a NULL that silently drops
    # it from sum_w_e6 while n_tokens still counts it (advice r11)
    w = (
        "CAST(round(ln(((coalesce(ct, 0) + 1e0) * (nc + {b}e0)) / "
        "((cc + 1e0) * (nt + {b}e0))) * 1000000) AS BIGINT)"
    ).format(b=b)
    return f"""
    WITH tok AS (
      SELECT doc_id, n_chars >= 300 AS is_t,
             {SQL_MD5_LONG.format(expr='t')} % {b} AS bkt
      FROM (SELECT doc_id, n_chars, unnest({SQL_TOKS}) AS t FROM documents)
    ),
    cc AS (SELECT bkt, CAST(count(*) AS BIGINT) AS cc FROM tok GROUP BY 1),
    ct AS (SELECT bkt, CAST(count(*) AS BIGINT) AS ct FROM tok WHERE is_t GROUP BY 1),
    tots AS (
      SELECT CAST(count(*) AS BIGINT) AS nc,
             CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS nt
      FROM tok
    ),
    w AS (
      SELECT cc.bkt, {w} AS w_e6
      FROM cc LEFT JOIN (SELECT bkt, ct FROM ct) USING (bkt), tots,
           (SELECT coalesce(NULL, 0)) _x
    ),
    scored AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(w.w_e6) AS BIGINT) AS sum_w_e6
      FROM tok t JOIN w ON w.bkt = t.bkt
      GROUP BY 1
    ),
    ranked AS (
      SELECT doc_id, n_tokens, sum_w_e6,
             CAST(floor((CAST(sum_w_e6 AS DOUBLE) / n_tokens / CAST(1000000 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE) AS avg_w
      FROM scored
    )"""


def _sql_dsir() -> str:
    return (
        _sql_dsir_ctes()
        + f"""
    SELECT doc_id, n_tokens, sum_w_e6, avg_w
    FROM ranked ORDER BY avg_w DESC, doc_id LIMIT {_DSIR_K}
    """
    )


def _dsir_ranked(spark, sf_dir):
    """Per-doc DSIR importance frame (doc_id, n_tokens, sum_w_e6,
    avg_w) — the weight derivation shared by corpus_dsir_select and
    corpus_dsir_sample. Plan: ONE explode+hash pass (persisted —
    three aggregates and the scoring join read it; the md5 work
    dominates rescans), two bounded-B bucket aggregates, a 1-row
    totals broadcast, and a broadcast scoring join — nothing corpus²
    anywhere."""
    from lol_data_pipeline_spark.caching import tracked_persist
    from lol_data_pipeline_spark.functions.scalar import md5_long

    b = _DSIR_B
    d = T(spark, sf_dir, "documents")
    tok = tracked_persist(
        d.select(
            "doc_id",
            (F.col("n_chars") >= 300).alias("is_t"),
            F.explode(tx.tokens("text")).alias("t"),
        ).select(
            "doc_id", "is_t", F.pmod(md5_long("t"), F.lit(b)).alias("bkt")
        )
    )
    cc = tok.groupBy("bkt").agg(F.count("*").cast("long").alias("cc"))
    ct = (
        tok.filter(F.col("is_t"))
        .groupBy("bkt")
        .agg(F.count("*").cast("long").alias("ct"))
    )
    tots = tok.agg(
        F.count("*").cast("long").alias("nc"),
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).cast("long").alias("nt"),
    )
    w = (
        cc.join(ct, "bkt", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bkt",
            # 1e0/{b}e0, NOT 1.0/{b}.0: bare decimal literals parse
            # as DECIMAL under Spark ANSI and poison the whole ratio
            # into truncating decimal arithmetic
            # coalesce BEFORE the +1 smoothing: zero-target buckets
            # get their smoothed negative weight, not NULL (advice r11)
            F.expr(
                f"CAST(round(ln(((coalesce(ct, 0) + 1e0) * (nc + {b}e0)) / "
                f"((cc + 1e0) * (nt + {b}e0))) * 1000000) AS BIGINT)"
            ).alias("w_e6"),
        )
    )
    scored = (
        tok.join(F.broadcast(w), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("w_e6").cast("long").alias("sum_w_e6"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "sum_w_e6",
        F.expr(
            "CAST(floor((CAST(sum_w_e6 AS DOUBLE) / n_tokens / CAST(1000000 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE)"
        ).alias("avg_w"),
    )


@query("corpus_dsir_select", sql=_sql_dsir())
def corpus_dsir_select(spark, sf_dir):
    """DSIR-style DATA SELECTION (importance resampling toward a
    target distribution, Xie et al. 2023 shape): hashed-unigram
    bucket distributions are estimated for the TARGET slice (docs
    meeting the length quality bar — the same signal the classifier
    family trains on) and the RAW corpus; each bucket's importance
    is the smoothed log-ratio ln(p_target/p_corpus), frozen to
    fixed-point micro-nats BEFORE any aggregation (the
    text_unigram_loglik determinism recipe); each document scores
    the integer sum of its tokens' bucket weights and the top-{k}
    per-token importers are selected. Production DSIR Gumbel-samples
    with these same weights — corpus_dsir_sample is that half; this
    entry is the τ→0 limit (the pin
    tests/test_modeling_ops.py::test_dsir_sample_recovers_select_at_zero_temperature
    holds the two together). Plan shape: see _dsir_ranked."""
    return (
        _dsir_ranked(spark, sf_dir)
        .orderBy(F.desc("avg_w"), F.asc("doc_id"))
        .limit(_DSIR_K)
    )


# Gumbel-top-k sampling temperature: score = w/τ + g, integerized as
# w_e6·TAU_INV + g_e6 (τ = 1/TAU_INV). τ=0.25 sharpens toward the
# high-importance head while keeping real sampling spread.
_DSIR_TAU_INV = 4


def _sql_dsir_sample() -> str:
    from lol_data_pipeline_spark.plans.extensions import SQL_MD5_LONG

    u = f"({SQL_MD5_LONG.format(expr=_DSIR_GUMBEL_KEY_SQL)} % 1000000 + 5e-1) / 1000000e0"
    return (
        _sql_dsir_ctes()
        + f""",
    perturbed AS (
      SELECT doc_id, n_tokens, avg_w,
             CAST(round(avg_w * 1000000) AS BIGINT) AS w_e6,
             CAST(round(-ln(-ln({u})) * 1000000) AS BIGINT) AS g_e6
      FROM ranked
    )
    SELECT doc_id, n_tokens, avg_w, g_e6,
           w_e6 * {_DSIR_TAU_INV} + g_e6 AS score_e6
    FROM perturbed ORDER BY score_e6 DESC, doc_id LIMIT {_DSIR_K}
    """
    )


# the per-doc uniform draw's key — domain-tagged so this draw is
# independent of every other hash family in the repo
_DSIR_GUMBEL_KEY_SQL = "concat('gmb:', CAST(doc_id AS VARCHAR))"


def _dsir_sample_frame(spark, sf_dir, tau_inv: int):
    """The Gumbel-top-k frame at an arbitrary integer 1/τ — the
    registry entry pins τ = 1/{_DSIR_TAU_INV}; the τ→0 test passes a
    huge tau_inv and must recover corpus_dsir_select's ranking."""
    from lol_data_pipeline_spark.functions.scalar import md5_long

    u = (
        F.pmod(
            md5_long(F.concat(F.lit("gmb:"), F.col("doc_id").cast("string"))),
            F.lit(1000000),
        )
        + F.expr("5e-1")
    ) / F.expr("1000000e0")
    ranked = _dsir_ranked(spark, sf_dir)
    perturbed = ranked.select(
        "doc_id",
        "n_tokens",
        "avg_w",
        F.round(F.col("avg_w") * 1000000).cast("long").alias("w_e6"),
        F.round(-F.log(-F.log(u)) * 1000000).cast("long").alias("g_e6"),
    )
    return (
        perturbed.select(
            "doc_id",
            "n_tokens",
            "avg_w",
            "g_e6",
            (F.col("w_e6") * tau_inv + F.col("g_e6")).alias("score_e6"),
        )
        .orderBy(F.desc("score_e6"), F.asc("doc_id"))
        .limit(_DSIR_K)
    )


@query("corpus_dsir_sample", sql=_sql_dsir_sample())
def corpus_dsir_sample(spark, sf_dir):
    """DSIR's SAMPLING half (Xie et al. 2023): Gumbel-top-k draws
    with the frozen micro-nat importance weights — score = w/τ + g,
    integerized as w_e6·{tau_inv} + g_e6 so the comparison is exact
    BIGINT arithmetic. The per-doc Gumbel g = −ln(−ln(u)) uses a
    DETERMINISTIC uniform u = (md5₆₀('gmb:'||doc_id) mod 10⁶ + ½)/10⁶
    (corpus_sample_stratified's hash machinery: partition- and
    engine-independent, never exactly 0 or 1), rounded to micro-nats
    before the integer perturbation. τ→0 (tau_inv→∞) recovers
    corpus_dsir_select's pure importance ranking — pinned by test.
    Plan: _dsir_ranked's bounded kernel + one hash/log projection;
    the sort is the same top-k TakeOrdered as the select entry."""
    return _dsir_sample_frame(spark, sf_dir, _DSIR_TAU_INV)
