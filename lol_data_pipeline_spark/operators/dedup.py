"""Deduplication family: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All four are pure DataFrame compositions (no UDFs), built on the
engine-portable md5-derived hash (functions.scalar.md5_long) so the
DuckDB oracle can reproduce signatures bit-for-bit.

Scale notes (100 TB):
- exact: one hash-aggregate shuffle on the text hash — optimal.
- jaccard all-pairs is O(n²); `ngram_jaccard_pairs` joins on shared
  shingles instead, so cost is Σ(docs-per-shingle²) — the classic
  inverted-index candidate generation. Hot shingles (stopword-only
  trigrams) are the skew risk; `max_shingle_df` drops shingles whose
  document frequency exceeds a cap, exactly what a production
  near-dup pipeline does.
- minhash_lsh: one md5 per shingle, k affine permutations folded in
  a single whole-stage-codegen hash aggregate whose map-side
  partials collapse to ONE row per (task, doc) before the shuffle —
  so signing 100 TB shuffles ~(docs × 16 longs), not shingles. (A
  per-row array_min/transform formulation with zero signing shuffle
  was measured slower end-to-end — higher-order functions are
  CodegenFallback — and the candidate/verify joins dominate both
  forms.) Candidate pairs stream through a bucket self-join on the
  persisted signature table; AQE splits any hot bucket.
- simhash: one 64-bit signature per doc, again per-row (a single
  aggregate over the token-hash array accumulates all 64 bit
  votes); candidate pairs share at least one of 4 16-bit chunks
  (Hamming ≤3 ⇒ some chunk equal by pigeonhole), then exact
  Hamming filter. 16-bit chunks give 2^16 possible buckets per
  band (vs 2^8 for the 32-bit form), so bucket occupancy at N docs
  is ~N/65536 per band — no structural mega-buckets at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lol_data_pipeline_spark.caching import tracked_persist
from lol_data_pipeline_spark.functions.scalar import md5_long, snap
from lol_data_pipeline_spark.functions.text import word_shingle_arrays
from lol_data_pipeline_spark.io import widen


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest id per identical text; report
    group size. One hash-aggregate; at scale, group on md5(text)
    instead of the full text to shrink shuffle width."""
    return (
        widen(docs)
        .groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
    )


def doc_shingles(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) pairs, distinct per doc — the inverted-index
    input. Built on the projection-barrier shingler (tokens
    materialized once per row, not once per shingle — see
    functions.text.word_shingle_arrays)."""
    arr = word_shingle_arrays(widen(docs), n, text_col, keep=[id_col])
    # explode_OUTER + null-drop, not plain explode: for explode,
    # InferFiltersFromGenerate clones the generator expression into a
    # `size(...) > 0` filter that predicate pushdown then re-expands
    # (the projection barrier substitutes away) below the widening
    # exchange — re-running the O(words²) shingle transform on the
    # narrow pre-exchange scan task. The outer form infers nothing;
    # the null filter runs on the generated column, post-exchange.
    return (
        arr.select(F.col(id_col).alias("id"), F.explode_outer("sh_arr").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = 500,
) -> DataFrame:
    """Near-duplicate pairs by exact Jaccard over word n-gram shingle
    sets, candidates generated via inverted-index self-join (only
    pairs sharing ≥1 shingle are ever scored).

    ``max_shingle_df`` (ON by default) drops shingles appearing in
    more than that many documents BEFORE sizes/intersections — a
    stopword trigram shared by 1M docs would otherwise contribute
    ~10^12 candidate pairs (Σ df² blowup). Pass None to disable
    (exact semantics over the full shingle set)."""
    sh = tracked_persist(doc_shingles(docs, n, text_col, id_col))
    if max_shingle_df:
        hot = sh.groupBy("shingle").count().filter(F.col("count") > max_shingle_df)
        sh = sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            snap(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def _doc_shingle_arrays(
    docs: DataFrame, n: int, text_col: str, id_col: str, extra: Column | None = None
) -> DataFrame:
    """(id, sh_arr, n_sh[, extra]): distinct shingles per doc as a
    per-row array — the narrow (shuffle-free) form of the inverted
    index. Docs with zero shingles are dropped, matching the
    explode-based form where they simply produce no rows. ``extra``
    is an optional aliased Column over ``docs`` carried alongside
    (e.g. a new-vs-index batch flag)."""
    from lol_data_pipeline_spark.functions.text import tokens

    # The ≥n-token prefilter is the CHEAP (O(words), codegen'd)
    # equivalent of `size(sh_arr) > 0` — filtering on sh_arr itself
    # would be substituted through the projection barrier by
    # predicate pushdown, re-running the O(words²) shingle transform
    # at the scan.
    if extra is not None:
        docs = docs.select("*", extra)
        extra_name = docs.columns[-1]
    narrow = widen(docs).filter(F.size(tokens(text_col)) >= n)
    keep = [id_col] + ([extra_name] if extra is not None else [])
    return (
        word_shingle_arrays(narrow, n, text_col, keep=keep)
        .withColumnRenamed(id_col, "id")
        .withColumn("n_sh", F.size("sh_arr"))
    )


_MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def _affine_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the k affine permutations
    h_i(x) = (a_i·x + b_i) mod P — the classic one-base-hash MinHash
    family (a_i odd, nonzero)."""
    params = []
    for i in range(k):
        a = ((1_103_515_245 * (i + 1) + 12_345) % _MINHASH_P) | 1
        b = (2_654_435_761 * (i + 1)) % _MINHASH_P
        params.append((a, b))
    return params


def _minhash_agg_cols(k: int) -> list[Column]:
    """The k affine-permutation min aggregates, each parsed from ONE
    SQL string: building them op-by-op with Column methods costs a
    py4j round-trip per operator (~6k JVM calls for k=16 across the
    plan), which dominated the query's wall clock — plan BUILD time,
    not execution (measured: 0.9 s build vs 0.07 s to optimize).
    Products stay < 2^62 (bh, a, b < 2^31), so ANSI int64 math
    cannot overflow."""
    return [
        F.expr(f"min(pmod(bh * {a} + {b}, {_MINHASH_P}))").alias(f"h{i}")
        for i, (a, b) in enumerate(_affine_params(k))
    ]


def shingle_array_signatures(base: DataFrame, k: int) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signatures of a shingle-array frame
    (id, sh_arr, ...) from :func:`_doc_shingle_arrays`: explode the
    arrays, one md5 base hash per shingle, then the k affine-permutation
    mins in one aggregate. The one derivation shared by the symmetric
    pairs, the incremental probe and the persisted index's build,
    upsert and served probe (operators/minhash_index.py)."""
    sh = base.select("id", F.explode("sh_arr").alias("shingle")).withColumn(
        "bh", F.pmod(md5_long(F.col("shingle")), F.lit(_MINHASH_P))
    )
    return sh.groupBy("id").agg(*_minhash_agg_cols(k))


def minhash_signatures(
    docs: DataFrame, k: int = 16, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """k-permutation MinHash signature per doc.

    ONE md5 per shingle (the expensive part), then k affine
    permutations of that base hash — vs k independent md5s this cuts
    the dominant cost k×. All k mins come out of a single
    whole-stage-codegen hash aggregate (one shuffle); a per-row
    array_min/transform formulation was measured 3× slower because
    higher-order array functions are CodegenFallback (interpreted).
    Products stay < 2^61 so ANSI-mode int64 arithmetic cannot
    overflow."""
    sh = doc_shingles(docs, n, text_col, id_col).withColumn(
        "bh", F.pmod(md5_long(F.col("shingle")), F.lit(_MINHASH_P))
    )
    return sh.groupBy("id").agg(*_minhash_agg_cols(k))


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 16,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard verification.

    k hashes split into ``bands`` bands of r=k/bands rows; docs
    agreeing on any full band become candidates (P[candidate] =
    1-(1-s^r)^b). Candidates are then verified with true Jaccard ≥
    threshold, so false positives are eliminated and only LSH recall
    (tunable via bands) is approximate.
    """
    assert k % bands == 0
    # ONE shingling pass: the per-doc shingle-array table feeds both
    # signature computation (via explode) and the final exact-Jaccard
    # verify — persisted so the expensive tokenize+shingle work runs
    # once. This is the scale play too — a production run persists
    # (or writes) the shingle/signature tables and reuses them.
    base = tracked_persist(_doc_shingle_arrays(docs, n, text_col, id_col))
    # Materialize signatures too: the bucket self-join otherwise
    # re-evaluates the md5→aggregate pipeline on each side (exchange
    # reuse does not cross a broadcast conversion).
    sigs = tracked_persist(shingle_array_signatures(base, k))
    buckets = minhash_band_buckets(sigs, k, bands)
    # Bucket self-join streams candidate pairs through the join
    # operator (mega-buckets distribute over tasks; AQE splits skewed
    # keys) — materializing per-bucket pair arrays instead blows up
    # memory quadratically on hot buckets. The signature subtree is
    # narrow, so evaluating it on both join sides costs two scans,
    # no extra exchange.
    a = buckets.alias("a")
    b2 = buckets.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # Verify ONLY the candidate pairs: join each side's per-row
    # shingle array (the SAME persisted table the signatures came
    # from) and intersect — at scale candidates are a tiny fraction.
    return _jaccard_verify(cand, base, "id_a", "id_b", threshold)


def _jaccard_verify(
    cand: DataFrame, base: DataFrame, left: str, right: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the
    per-doc shingle-array table ``base`` (columns id/sh_arr/n_sh).
    Shared by the symmetric pair join and the incremental probe so
    the verify semantics (intersection, rounding, threshold) cannot
    drift between them."""
    return (
        cand.join(
            base.select(
                F.col("id").alias(left),
                F.col("sh_arr").alias("sh_a"),
                F.col("n_sh").alias("n_a"),
            ),
            left,
        )
        .join(
            base.select(
                F.col("id").alias(right),
                F.col("sh_arr").alias("sh_b"),
                F.col("n_sh").alias("n_b"),
            ),
            right,
        )
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            snap(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select(left, right, "jaccard")
    )


def minhash_band_buckets(
    sigs: DataFrame, k: int, bands: int, carry: list[str] | None = None
) -> DataFrame:
    """(id, band, bkey) LSH bucket rows from a signature frame
    (columns id, h0..h{k-1}). One row per (doc, band) via a single
    explode — NOT a union of per-band selects, which would
    re-evaluate the signature subtree once per band; one expr-parse
    for the whole band array (see _minhash_agg_cols on plan-build
    cost). This is also the AT-REST index row format: written
    partitioned by band and clustered by bkey, a probe's per-band
    point predicates become partition pruning + row-group skipping
    (tests/test_data_skipping.py). ``carry`` names extra ``sigs``
    columns to keep on every bucket row (explicit, never sniffed —
    a metadata column must not silently change the index schema)."""
    assert k % bands == 0
    r = k // bands
    band_structs = ", ".join(
        "named_struct('band', {b}, 'bkey', concat_ws('_', {cols}))".format(
            b=b,
            cols=", ".join(f"cast(h{b * r + j} as string)" for j in range(r)),
        )
        for b in range(bands)
    )
    carry = list(carry or [])
    return sigs.select(
        "id", *carry, F.explode(F.expr(f"array({band_structs})")).alias("bk")
    ).select("id", "bk.band", "bk.bkey", *carry)


def minhash_lsh_probe(
    docs: DataFrame,
    is_new: Column,
    k: int = 16,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental dedup: probe NEW documents against the EXISTING
    corpus's LSH index — the daily-ingest shape of
    :func:`minhash_lsh_pairs`, where the corpus grows batch by batch
    and re-pairing the whole history every day would be quadratic in
    days. ``is_new`` is a boolean Column over ``docs`` marking the
    incoming batch; pairs are (new doc, existing doc) only —
    new↔new pairs are the ordinary within-batch LSH job and
    existing↔existing pairs were found when THOSE batches arrived.

    The asymmetry is the scale story: in production the existing
    side's (band, bkey) buckets and shingle arrays are AT REST
    (written bucketed by bkey when each batch was ingested — the
    same layout trick as the at-rest IVF index), so a daily run
    shingles/signs ONLY the new batch and its bucket join prunes to
    matching index partitions. Here both sides derive from one scan
    + shared persisted shingle/signature tables (the testdata is one
    table), so the candidate-generation and verify logic — what the
    oracle checks — is identical to the at-rest deployment while
    costing one pass.
    """
    assert k % bands == 0
    # Internal flag name is collision-proofed against user columns
    # (docs may itself carry an `is_new` column); NULL flags count as
    # NOT new — they stay probeable index rows instead of silently
    # vanishing from both sides of the filter split.
    flag = "__mlp_is_new"
    flag_col = F.coalesce(is_new.cast("boolean"), F.lit(False)).alias(flag)
    base = tracked_persist(
        _doc_shingle_arrays(docs, n, text_col, id_col, extra=flag_col)
    )
    sigs = tracked_persist(
        shingle_array_signatures(base, k).join(base.select("id", flag), "id")
    )
    buckets = minhash_band_buckets(sigs, k, bands, carry=[flag])
    new_side = buckets.filter(F.col(flag)).drop(flag)
    idx_side = buckets.filter(~F.col(flag)).drop(flag)
    a = new_side.alias("a")
    b2 = idx_side.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band")) & (F.col("a.bkey") == F.col("b.bkey")),
        )
        .select(F.col("a.id").alias("id_new"), F.col("b.id").alias("id_index"))
        .distinct()
    )
    return _jaccard_verify(cand, base.drop(flag), "id_new", "id_index", threshold)


def substring_dup_stats(docs: DataFrame, n: int = 8) -> DataFrame:
    """Per-document shared-window substring-dedup signal: for every
    doc, how many of its distinct ``n``-token windows also occur in
    at least one other row of the pairs table (see the registered
    entry's docstring for the full plan/scale argument; this is the
    SINGLE implementation both the registry entry and the behavioral
    tests run, so they cannot drift)."""
    from lol_data_pipeline_spark.functions.text import word_shingle_arrays

    sh = word_shingle_arrays(widen(docs), n=n, keep=["doc_id"], out_col="s")
    # explode_OUTER + null-drop, not plain explode: InferFilters-
    # FromGenerate would clone a `size(s) > 0` filter through the
    # projection barrier and re-run the O(words²) shingling below
    # the exchange (same pathology doc_shingles documents; measured
    # 2.9 s → 0.7 s for this stage at sf0.1).
    pairs = (
        sh.select("doc_id", F.explode_outer("s").alias("w"))
        .filter(F.col("w").isNotNull())
        .select("doc_id", md5_long("w").alias("h"))
    )
    pairs = tracked_persist(pairs)  # feeds base, dup AND the join-back
    base = pairs.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_windows"))
    dup = (
        pairs.groupBy("h").agg(F.count("*").alias("nd")).filter(F.col("nd") >= 2).select("h")
    )
    cnt = pairs.join(dup, "h").groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup")
    )
    return base.join(cnt, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup_windows"),
        snap(
            F.coalesce(F.col("n_dup"), F.lit(0)) * F.lit(1.0) / F.col("n_windows"), 4
        ).alias("dup_ratio"),
    )


def simhash_signatures(
    docs: DataFrame, bits: int = 64, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash signature: bit i of the signature is 1 iff the sum of
    (+1/-1) votes (bit i of each distinct token's hash) is >= 0.

    One md5 per token supplies all 64 bits: the 32-hex digest is
    split into two 60-bit integers (hex chars 1-15 → bits 0-59, hex
    chars 16-30 → bits 60-63 from its low nibble) — md5's bytes are
    i.i.d., so no second hash is needed. The signature is a signed
    int64 in two's complement (bit 63 is the sign bit), identical in
    Spark and DuckDB, so xor/bit_count candidate math is
    engine-portable even for "negative" signatures.

    The 64 per-bit vote counts are PACKED three to a long (21-bit
    lanes): each token contributes b_{3j} + b_{3j+1}·2²¹ +
    b_{3j+2}·2⁴², so the aggregate is 22 pure-integer sums instead
    of 64 sum(CASE) columns — one third the generated code (the wide
    form was compile-bound locally) and one third the partial-agg
    row width on the shuffle. vote_i ≥ 0 ⇔ 2·cnt_i ≥ n_tokens, so
    the unpacked lane reproduces the ±1-vote semantics exactly.
    Lane capacity bounds distinct tokens per doc at 2²¹-1 (≈2M) —
    far above any real document's distinct-token count.

    Explode + hash-aggregate on purpose: the packed sums stay inside
    whole-stage codegen (a per-row `aggregate`/`transform` array
    formulation was measured ~10× slower — higher-order array
    functions are CodegenFallback). One shuffle keyed by doc id,
    map-side partial aggregation shrinks it to one row per (task,
    doc)."""
    # explode_outer + null-drop (see doc_shingles): plain explode
    # would get an inferred `size(...) > 0` filter cloning the
    # split+filter work into the pre-exchange scan task.
    toks = (
        widen(docs)
        .select(
            F.col(id_col).alias("id"),
            F.explode_outer(
                F.array_distinct(F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != ""))
            ).alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
        # hx aliased in its own Project: referenced twice below, so
        # CollapseProject keeps the barrier and md5 runs once per row.
        .withColumn("hx", F.md5("tok"))
        .select(
            "id",
            F.conv(F.substring("hx", 1, 15), 16, 10).cast("long").alias("th"),
            # Only 4 extra bits are needed (60..63): one hex char.
            F.conv(F.substring("hx", 16, 1), 16, 10).cast("long").alias("th2"),
        )
    )

    def _bit(i: int) -> str:
        src, off = ("th", i) if i < 60 else ("th2", i - 60)
        return f"(shiftright({src}, {off}) & 1)"

    # Every wide expression below is parsed from ONE SQL string per
    # column (F.expr): the op-by-op Column form costs a py4j JVM
    # round-trip per operator — ~1.5 s of pure Python plan-BUILD
    # time for the 64-bit tree, twice the query's execution time.
    lanes = [list(range(j, min(j + 3, bits))) for j in range(0, bits, 3)]
    packed = toks.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[
            F.expr(
                "sum("
                + " + ".join(
                    [_bit(group[0])]
                    + [f"shiftleft({_bit(i)}, {21 * pos})" for pos, i in enumerate(group[1:], 1)]
                )
                + ")"
            ).alias(f"s{g}")
            for g, group in enumerate(lanes)
        ],
    )

    def _cnt(i: int) -> str:
        g, pos = divmod(i, 3)
        return f"(shiftright(s{g}, {21 * pos}) & {(1 << 21) - 1})"

    # Assembly: bit i = (cnt_i ≥ ⌈n/2⌉) — `half` is aliased in its
    # own Project (referenced 64×, so CollapseProject keeps the
    # barrier) to drop a per-bit multiply — as a plain boolean→long
    # cast shifted into place (shiftleft by 63 lands on the sign bit
    # — two's complement, matching the oracle's -2^63 CASE term).
    # Summed as a BALANCED parenthesized tree: a 64-deep left-nested
    # addition chain makes several Catalyst transform passes
    # quadratic in depth — measured ~1.4 s of pure driver planning
    # time on a 5k-row input.
    halved = packed.withColumn("half", F.shiftright(F.col("n_tok") + 1, 1))
    terms = [
        f"shiftleft(cast({_cnt(i)} >= half as bigint), {i})" for i in range(bits)
    ]
    while len(terms) > 1:
        terms = [
            f"({terms[j]} + {terms[j + 1]})" if j + 1 < len(terms) else terms[j]
            for j in range(0, len(terms), 2)
        ]
    return halved.select("id", F.expr(terms[0]).alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    bits: int = 64,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` of 64-bit
    SimHash. Candidate generation: band the signature into
    (max_hamming+1) chunks — any pair within distance shares ≥1
    identical chunk (pigeonhole), so the join is on per-band
    buckets, never all-pairs. At 64 bits / 4 bands each chunk is
    16 bits → 65,536 possible buckets per band, so bucket skew is
    data-driven, not structural (the 32-bit form had only 256)."""
    # Persisted: both sides of the bucket self-join read the
    # signature table (see minhash_lsh_pairs).
    sigs = tracked_persist(simhash_signatures(docs, bits, text_col, id_col))
    return hamming_pairs(sigs, bits=bits, max_hamming=max_hamming)


def hamming_pairs(
    sigs: DataFrame, bits: int = 64, max_hamming: int = 3
) -> DataFrame:
    """Pairs within ``max_hamming`` of any precomputed fixed-width
    bit signature — the banded candidate core of simhash_pairs,
    factored so other Hamming-space signatures reuse it verbatim
    (r12 verdict item 5: the image dHash in operators/multimodal.py
    is the second caller). ``sigs`` carries (id, simhash), signature
    a signed int64 in two's complement (engine-portable xor /
    bit_count); callers persist it — both sides of the self-join
    read it."""
    nbands = max_hamming + 1
    width = bits // nbands
    # One explode per doc into (band, chunk) rows; candidate pairs
    # come straight out of each bucket's sorted member list — no
    # band union, no bucket self-join, so the signature subtree is
    # evaluated exactly once.
    mask = (1 << width) - 1
    chunk_keys = ", ".join(
        f"named_struct('band', {bnd}, 'chunk', shiftright(simhash, {bnd * width}) & {mask})"
        for bnd in range(nbands)
    )
    buckets = sigs.select(
        "id", "simhash", F.explode(F.expr(f"array({chunk_keys})")).alias("bk")
    ).select("id", "simhash", "bk.band", "bk.chunk")
    # Stream candidates through a bucket self-join (see
    # minhash_lsh_pairs for why not per-bucket pair arrays: even at
    # 2^16 buckets per band, natural-duplicate clusters make hot
    # buckets possible, and AQE skew-join splits them).
    # Dedup across bands WITHOUT a distinct() shuffle: both sides
    # carry the full signature, so each joined row can check which
    # band is the FIRST where the two signatures' chunks agree and
    # emit the pair only there — a per-row bit-op filter instead of
    # an exchange over millions of duplicate candidate rows.
    a = buckets.alias("a")
    b = buckets.alias("b")
    xor = "(a.simhash ^ b.simhash)"
    chunk_eq = ", ".join(
        f"(shiftright({xor}, {bnd * width}) & {mask}) = 0" for bnd in range(nbands)
    )
    first_eq_band = f"(array_position(array({chunk_eq}), true) - 1)"
    return (
        a.join(
            b,
            F.expr("a.band = b.band AND a.chunk = b.chunk AND a.id < b.id"),
        )
        .filter(F.expr(f"a.band = {first_eq_band}"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.expr(f"bit_count{xor}").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def doc_chunks(docs: DataFrame, c: int = 8) -> DataFrame:
    """(doc_id, chunk_idx, chunk): each document tiled into
    non-overlapping ``c``-token chunks (tail chunk may be shorter) —
    the shared chunk derivation of substring_dedup (global removal)
    and the served chunk-hash index (operators/chunk_index.py), so
    the in-query and served substring-dedup semantics cannot
    drift."""
    from lol_data_pipeline_spark.functions.text import tokens

    base = widen(docs).select("doc_id", tokens("text").alias("t"))
    nch = F.ceil(F.size("t") / F.lit(float(c))).cast("int")
    idx = F.when(nch > 0, F.sequence(F.lit(0), nch - 1)).otherwise(
        F.array().cast("array<int>")
    )
    # explode_OUTER + null-drop (not plain explode) for the same
    # InferFiltersFromGenerate reason substring_dup_stats documents
    return (
        base.select(
            "doc_id",
            F.explode_outer(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        i.alias("chunk_idx"),
                        F.array_join(
                            F.slice("t", i * c + 1, F.lit(c)), " "
                        ).alias("chunk"),
                    ),
                )
            ).alias("ch"),
        )
        .filter(F.col("ch").isNotNull())
        .select("doc_id", "ch.chunk_idx", "ch.chunk")
    )


def substring_dedup(docs: DataFrame, c: int = 8) -> DataFrame:
    """Exact-substring dedup REMOVAL (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", chunk-wise shape):
    split each document into non-overlapping ``c``-token chunks, hash
    each chunk, and keep only the GLOBALLY FIRST occurrence of every
    chunk (order: doc_id, then chunk_idx — deterministic and
    partition-independent); later occurrences are removed from their
    documents and the cleaned text is re-assembled from the surviving
    chunks in order. This upgrades substring_dup_stats from
    measurement to action: a boilerplate paragraph shared by a
    thousand pages survives in exactly one of them.

    Returns (doc_id, n_chunks, n_removed, clean_text) with clean_text
    NULL when every chunk of the document was removed.

    Plan shape — posting lists, never pair generation: one chunking
    projection (array-sliced lambda over the materialized token
    array, no O(words²) shingling — chunks tile the doc), a
    row_number window over the chunk-hash partitions (group size =
    that chunk's posting list, bounded by duplication density, never
    corpus-sized), and one per-doc re-assembly aggregate. Only
    (doc_id, chunk_idx, chunk, h) rows shuffle. At 100 TB: both
    exchanges are keyed hash shuffles (h, then doc_id) with AQE
    handling hot boilerplate hashes; nothing collects.
    """
    chunked = doc_chunks(docs, c)
    from pyspark.sql import Window

    w = Window.partitionBy(md5_long("chunk")).orderBy(
        F.col("doc_id").asc(), F.col("chunk_idx").asc()
    )
    ranked = chunked.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.nullif(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") == 1,
                                F.struct("chunk_idx", "chunk"),
                            )
                        )
                    ),
                    lambda x: x.chunk,
                ),
                " ",
            ),
            F.lit(""),
        ).alias("clean_text"),
    )
