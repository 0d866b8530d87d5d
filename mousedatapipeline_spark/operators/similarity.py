"""Deduplication & similarity-search operators: character-shingling,
MinHash+LSH, SimHash, and exact embedding cosine — the dedup layer of a
training-data pipeline (SURVEY.md beyond-reference mandate).

Everything is built from relational primitives (explode → hash → groupBy
→ self-join) with pure modular-integer hashing and decimal-accumulated
float sums, so results are deterministic, engine-portable (the DuckDB
oracles reproduce them exactly), and partition-independent.

Scale design:
- Shingle/minhash/simhash computation is a narrow explode + groupBy —
  one shuffle keyed by doc, map-side combined, no UDFs.
- Candidate generation joins are *blocked* (by lang/source or LSH
  bucket): the all-pairs quadratic blowup is bounded by the largest
  block, which the caller controls. This is the standard LSH contract:
  at 100 TB you never join document-to-document directly, only within
  band-signature buckets.
- The LSH near-dup funnel (``plans.similarity_queries.
  lsh_verified_edges``) has two regimes. The hashed shingle sets
  (:func:`shingle_hash_sets`) are checkpointed once; when their cached
  size fits ``spark.sql.autoBroadcastJoinThreshold``
  (``tables.fits_broadcast``) AND the candidate volume does (sum of
  k(k-1)/2 over the band buckets at 16 bytes a pair,
  :func:`pair_volume`), the sets are collected once and the rest runs
  on the driver (:func:`band_buckets_np`, :func:`driver_verified_edges`);
  past either gate the band self-join (:func:`lsh_candidates`), the
  verify join (:func:`hashed_jaccard`) and :func:`degree_cap_edges`
  run distributed. Both return the same edges.
- Each near-dup pair step is written once here, and every query that
  takes the step calls it: the band self-join, the hashed-set verify,
  the MinHash lane compare (:func:`signature_pairs`,
  :func:`matching_lanes`) and the blocked all-pairs overlap
  (:func:`blocked_overlaps`).
- Embedding dot products explode to (vec, dim) rows and aggregate with
  decimal sums: exact, shuffle-friendly, and skew-free (the `dim` join
  key is uniform by construction).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mousedatapipeline_spark.operators.aggregates import dsum

MOD = 2_147_483_647  # 2^31 - 1

# Deterministic MinHash permutation parameters, shared with the SQL
# oracles via `minhash_params_sql()`.
N_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS
MINHASH_A = tuple((2 * i + 1) * 1_103_515_245 % MOD for i in range(N_PERM))
MINHASH_B = tuple((i * 12_345 + 6_789) * 2_654_435_761 % MOD
                  for i in range(N_PERM))

SIMHASH_BITS = 16


def minhash_params_sql() -> str:
    """``(VALUES ...) AS p(i, a, b)`` rows for the DuckDB oracle."""
    rows = ", ".join(
        f"({i}::BIGINT, {a}::BIGINT, {b}::BIGINT)"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B)))
    return f"(VALUES {rows}) AS p(i, a, b)"


def bit_weights_sql(n_bits: int = SIMHASH_BITS) -> str:
    rows = ", ".join(f"({j}, {1 << j})" for j in range(n_bits))
    return f"(VALUES {rows}) AS bw(j, w)"


def shingle_set_col(text: Column, n: int = 3) -> Column:
    """Distinct character n-gram shingles of ONE document as a per-row
    array expression — no explode, no shuffle, pure codegen.

    A document's shingle set is a row-local quantity, so deriving it
    through explode + groupBy (two 712k-row shuffles at sf0.1) is pure
    waste; explode this array only where downstream genuinely needs
    shingle-level rows (the injectivity census below).
    """
    return F.when(
        F.length(text) >= n,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.length(text) - (n - 1)),
            lambda i: F.substring(text, i, n)))
    ).otherwise(F.array().cast("array<string>"))


def codepoints(text: Column) -> Column:
    """Codepoint array of ``text`` as ONE O(n) pass (r10 optimization).

    ``F.substring(text, i, k)`` re-scans the UTF-8 bytes from position
    0 to find character ``i`` (codepoint-aware indexing has no random
    access), so any per-position loop built on it — the old shingle
    formulation — is O(n²) per document.  Splitting to a per-character
    array once and indexing it with ``element_at`` (O(1) on array
    data) makes the whole shingle pass linear in the document length.

    Equivalence: ``split`` with an empty regex matches zero-width at
    codepoint boundaries only (Java regex never splits a surrogate
    pair), so element ``k`` equals ``substring(text, k, 1)`` (1-based)
    and ``ascii`` of it is exactly the codepoint the positional form
    hashed — pinned by test_shingle_codepoints_match_substring.
    """
    return F.transform(F.split(text, ""),
                       lambda c: F.ascii(c).cast("bigint"))


def shingle_hash(shingle: Column) -> Column:
    """3-char shingle → bigint, pure codepoint arithmetic (identical in
    Spark and DuckDB: ascii() is the first codepoint in both).

    Byte-positional base-256 weights: for single-byte codepoints the
    value is ``a<<16 | b<<8 | c`` ≤ 0xFFFFFF < 2³¹−1, so the ``% MOD``
    is a no-op and the hash is INJECTIVE by construction (each
    codepoint occupies its own byte — no carries between positions).
    The previous 923521/961/31 weights let the third position carry
    into the second (31·c > 961 for c > 31) and collided on printable
    ASCII, e.g. (x,40,70) ≡ (x,41,39).  Codepoints ≥ 256 can still
    collide across positions; :func:`shingle_hash_injective_on` is the
    corpus-level check the verification loop runs.
    """
    return (
        F.ascii(F.substring(shingle, 1, 1)).cast("bigint") * 65_536
        + F.ascii(F.substring(shingle, 2, 1)).cast("bigint") * 256
        + F.ascii(F.substring(shingle, 3, 1)).cast("bigint")
    ) % MOD


def hashed_shingle_docs(d: DataFrame, extra_cols: Sequence[str] = ("lang",),
                        with_n: bool = False) -> DataFrame:
    """(doc_id, *extra_cols, hs[, n]): each document's distinct shingle
    HASHES, the scan stage every MinHash pipeline starts from —
    lazily checkpointed, shingle work guaranteed to run ONCE.

    Two traps this helper exists to avoid (each measured ~2-3x on the
    corpus scan):

    - ``select(ss) -> filter(size(ss) > 0) -> select(transform(ss),
      size(ss))`` triple-evaluates the whole shingle expression —
      predicate pushdown substitutes it into the filter and
      CollapseProject inlines it into both consumers. Here the empty
      filter is the equivalent ``length(text) >= 3`` scan predicate
      (shingle_set_col is empty EXACTLY when length < 3) and the hash
      runs per POSITION inside one transform, so no string shingle
      array is ever materialized — at 100 TB the scan emits 8-byte
      hashes, never 3-char strings.
    - Downstream, ``hs`` feeds N_PERM minhash projections plus a size;
      the lazy localCheckpoint pins the int arrays so no consumer
      re-runs the scan.

    Dedup happens on hashes (array_distinct of ints): identical to
    string-level dedup whenever :func:`shingle_hash` is injective on
    the corpus 3-grams — GUARANTEED for single-byte codepoints by the
    base-256 positional weights, and checked corpus-wide for the
    general case by :func:`shingle_hash_injective_on` (run by
    tools/check_correctness.py at every shipped SF).
    """
    out = shingle_hash_sets(d, extra_cols).localCheckpoint(eager=False)
    if with_n:
        out = out.select("*", F.size("hs").cast("bigint").alias("n"))
    return out


def shingle_hash_sets(d: DataFrame,
                      extra_cols: Sequence[str] = ("lang",)) -> DataFrame:
    """The un-materialized plan behind :func:`hashed_shingle_docs`:
    (doc_id, *extra_cols, hs) for the documents of length >= 3. For a
    caller that materializes it itself (an eager checkpoint whose
    size picks a regime)."""
    base = d.filter(F.length("text") >= 3)
    # O(n) formulation (r10): stage the codepoint array as a REAL
    # column (three element_at references below — CollapseProject
    # leaves multiply-referenced non-trivial aliases staged), then
    # hash by O(1) array indexing. The positional-substring loop this
    # replaces was O(n²) per document (see codepoints()); values are
    # bit-identical: cp[i]*65536 + cp[i+1]*256 + cp[i+2] (mod MOD) is
    # shingle_hash(substring(text, i, 3)) by construction.
    staged = base.select("doc_id", *extra_cols,
                         codepoints(F.col("text")).alias("cp"))
    cp = F.col("cp")
    hs = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size(cp) - 2),
        lambda i: (F.element_at(cp, i) * 65_536
                   + F.element_at(cp, i + 1) * 256
                   + F.element_at(cp, i + 2)) % MOD))
    return staged.select("doc_id", *extra_cols, hs.alias("hs"))


SHINGLE_HASH_SQL = ("(ascii(substr(shingle, 1, 1)) * 65536 "
                    "+ ascii(substr(shingle, 2, 1)) * 256 "
                    "+ ascii(substr(shingle, 3, 1))) % 2147483647")


def shingle_hash_injective_on(d: DataFrame) -> tuple[int, int]:
    """Corpus-level injectivity census: (distinct string 3-grams,
    distinct 3-gram hashes) over ``d.text`` — equal iff
    :func:`shingle_hash` is injective on this corpus.

    Always equal when every codepoint fits one byte (the hash is
    positional base-256); codepoints ≥ 256 can cross byte lanes, so
    the verification loop runs this census once per SF before trusting
    hash-level set sizes to equal string-level ones (ADVICE r05)."""
    sh = d.filter(F.length("text") >= 3).select(
        F.explode(shingle_set_col(F.col("text"))).alias("shingle"))
    row = sh.agg(
        F.count_distinct(F.col("shingle")).alias("strings"),
        F.count_distinct(shingle_hash(F.col("shingle"))).alias("hashes"),
    ).collect()[0]
    return int(row["strings"]), int(row["hashes"])


def minhash_cols(hash_array: Column) -> list[Column]:
    """All N_PERM minhashes of a document's shingle-HASH array as
    per-row expressions (``mh0``..``mh{N-1}``) — zero shuffles.

    CRITICAL: ``hash_array`` must reference a MATERIALIZED column (a
    prior ``select`` stage), not an inline expression. These N_PERM
    output columns each reference the array; if the array is an inline
    expression, CollapseProject duplicates its whole computation into
    every column (measured 8x slowdown at sf0.1). Stage it:

        hs = df.select(..., F.transform(ss, shingle_hash).alias("hs"))
        sig = hs.select(..., *minhash_cols(F.col("hs")))

    NB: captures go through a closure factory, not lambda defaults —
    pyspark derives higher-order-function arity from the lambda's
    parameter count, so ``lambda h, i=i:`` would be read as (elem, idx).
    """
    def perm(i: int):
        return lambda h: (F.lit(MINHASH_A[i]) * h + F.lit(MINHASH_B[i])) % MOD

    return [F.array_min(F.transform(hash_array, perm(i))).alias(f"mh{i}")
            for i in range(N_PERM)]


def token_hashes_16bit(token_array: Column,
                       n_bits: int = SIMHASH_BITS) -> Column:
    """Per-row array of 16-bit token hashes (first/last codepoint +
    length, modular) — materialize this as a column before feeding
    :func:`simhash_col` (see minhash_cols note on CollapseProject)."""
    return F.transform(
        token_array,
        lambda t: ((F.ascii(F.substring(t, 1, 1)).cast("bigint") * 8191
                    + F.ascii(F.substring(t, F.length(t), F.lit(1)))
                    .cast("bigint") * 131
                    + F.length(t)) % MOD) % (1 << n_bits))


def simhash_col(hash_array: Column, n_bits: int = SIMHASH_BITS) -> Column:
    """Count-weighted SimHash over a MATERIALIZED 16-bit token-hash
    array column, as one per-row expression — zero shuffles.

    Token multiplicity weights naturally: the per-bit signed sum
    aggregates over the RAW hash array (duplicates included), which is
    exactly the count-weighted formulation. The 16 per-bit aggregates
    each reference ``hash_array``; pass a real column, not an inline
    expression, or CollapseProject duplicates the tokenization into
    every bit lane.
    """
    def bit_sum(w: int):
        return lambda acc, h: acc + (F.floor(h / w) % 2) * 2 - 1

    out = F.lit(0).cast("bigint")
    for j in range(n_bits):
        w = 1 << j
        s_j = F.aggregate(hash_array, F.lit(0).cast("bigint"), bit_sum(w))
        out = out + F.when(s_j > 0, F.lit(w)).otherwise(F.lit(0))
    return out.cast("bigint")


def band_signatures_wide(sig_wide: DataFrame,
                         id_cols: Sequence[str]) -> DataFrame:
    """(id_cols, band, band_sig) from the wide signature — a 4-element
    explode per doc (cheap) instead of a 16-row aggregation."""
    ids = list(id_cols)
    bands = F.explode(F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("-", *[
                F.col(f"mh{i}").cast("string")
                for i in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
            ]).alias("band_sig"))
        for b in range(N_BANDS)])).alias("bb")
    return sig_wide.select(*ids, bands).select(
        *ids, F.col("bb.band").alias("band"),
        F.col("bb.band_sig").alias("band_sig"))


# Candidates must collide in >= 2 of the 4 bands: the synthetic text's
# tiny shingle vocabulary makes single-band buckets nearly all-pairs
# (650k+ candidates at sf0.1); two-band agreement restores the sparse
# candidate set the pattern is designed around.
MIN_SHARED_BANDS = 2


def band_pairs(bands: DataFrame) -> DataFrame:
    """(d1, d2, shared_bands): every document pair (d1 < d2) sharing a
    (lang, band, band_sig) bucket of :func:`band_signatures_wide`'s
    (doc_id, lang, band, band_sig) table, with its count of shared
    bands.

    A self-join, NOT :func:`blocked_pairs`: LSH buckets are skewed (one
    925-doc bucket at sf0.1 => 427k pairs), and the array-based pair
    generator would materialize a whole bucket's pairs in one task. The
    join spreads pair production across partitions of the bucket key;
    AQE skew-join splits the hot bucket. Both sides read ``bands``:
    materialize it first, or the signature pipeline runs once per
    side."""
    ba = bands.select(F.col("doc_id").alias("d1"), "lang", "band",
                      "band_sig")
    bb = bands.select(F.col("doc_id").alias("d2"), "lang", "band",
                      "band_sig")
    return (ba.join(bb, ["lang", "band", "band_sig"])
            .filter(F.col("d1") < F.col("d2"))
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("shared_bands")))


def lsh_candidates(bands: DataFrame) -> DataFrame:
    """(d1, d2): the LSH candidate pairs, :func:`band_pairs` sharing at
    least MIN_SHARED_BANDS bands. SQL twin: plans.similarity_queries.
    cand_sql()."""
    return (band_pairs(bands)
            .filter(F.col("shared_bands") >= MIN_SHARED_BANDS)
            .select("d1", "d2"))


def signature_pairs(pairs: DataFrame, sig: DataFrame) -> DataFrame:
    """``pairs`` (d1, d2, ...) joined to both documents' MinHash lanes
    of the wide signature ``sig`` (doc_id, mh0..mh{N-1}): lane ``i`` of
    d1 as ``mh{i}_1``, of d2 as ``mh{i}_2``; feed it
    :func:`matching_lanes`."""
    def side(k: int) -> DataFrame:
        return sig.select(F.col("doc_id").alias(f"d{k}"),
                          *[F.col(f"mh{i}").alias(f"mh{i}_{k}")
                            for i in range(N_PERM)])

    return pairs.join(side(1), "d1").join(side(2), "d2")


def matching_lanes(low_bits: int | None = None) -> Column:
    """Number of the N_PERM lanes on which a :func:`signature_pairs`
    row's two signatures agree (int). With ``low_bits`` only each
    lane's low ``low_bits`` bits are compared: b-bit MinHash."""
    def lane(i: int) -> Column:
        x1, x2 = F.col(f"mh{i}_1"), F.col(f"mh{i}_2")
        if low_bits is not None:
            x1, x2 = x1 % (1 << low_bits), x2 % (1 << low_bits)
        return F.when(x1 == x2, 1).otherwise(0)

    return sum((lane(i) for i in range(1, N_PERM)), lane(0))


def jaccard_col(n_common: Column, n1: Column, n2: Column) -> Column:
    """|A & B| / |A | B| from the overlap and the two set sizes: one
    IEEE division of exact integer counts, as every oracle computes
    it."""
    return n_common.cast("double") / (n1 + n2 - n_common).cast("double")


def hashed_jaccard(cands: DataFrame, hashed: DataFrame,
                   pairs: DataFrame | None = None) -> DataFrame:
    """Exact set overlap of the candidate pairs: ``pairs`` (default
    ``cands``; d1, d2 and any other columns) with ``n_common`` and
    ``jaccard_raw`` appended, from ``hashed`` (doc_id, hs, n) — the
    shingle-hash sets of :func:`hashed_shingle_docs` with their sizes.

    The sets are pruned to the candidates' documents first (a
    semi-join on the distinct ids of ``cands``: candidates are a
    vanishing fraction of the corpus at scale), so the two joins
    stream small int arrays, never the corpus; the overlap is a JVM
    ``array_intersect``. Intersect counts equal the string-set counts
    under the corpus-checked hash injectivity (see
    :func:`hashed_shingle_docs`).

    The id set is broadcast only while ``cands``' MATERIALIZED size
    fits ``tables.fits_broadcast`` (the id set is never larger:
    distinct single ids vs id pairs). Candidate volume grows with the
    corpus, and a forced hint would eventually hit the 8 GB broadcast
    cap; a lazily checkpointed or unmaterialized ``cands`` reads as
    unknown size, and AQE plans the semi-join from runtime stats."""
    from mousedatapipeline_spark.tables import fits_broadcast

    cand_ids = (cands.select(F.explode(F.array("d1", "d2")).alias("doc_id"))
                .distinct())
    sets = (hashed.join(F.broadcast(cand_ids) if fits_broadcast(cands)
                        else cand_ids, "doc_id", "left_semi")
            .select("doc_id", "hs", "n"))
    s1 = sets.select(F.col("doc_id").alias("d1"),
                     F.col("hs").alias("ss1"), F.col("n").alias("n1"))
    s2 = sets.select(F.col("doc_id").alias("d2"),
                     F.col("hs").alias("ss2"), F.col("n").alias("n2"))
    pairs = cands if pairs is None else pairs
    n_common = F.size(F.array_intersect("ss1", "ss2")).cast("bigint")
    return pairs.join(s1, "d1").join(s2, "d2").select(
        *pairs.columns, n_common.alias("n_common"),
        jaccard_col(n_common, F.col("n1"), F.col("n2")).alias("jaccard_raw"))


def simhash(df: DataFrame, id_cols: Sequence[str], token_col: str = "token",
            count_col: str = "n", n_bits: int = SIMHASH_BITS) -> DataFrame:
    """(id_cols, simhash): count-weighted SimHash over hashed tokens.

    Input: one row per (doc, token) with a count column and a bigint
    ``th`` token-hash column. Explodes ×n_bits then two groupBy passes;
    all-integer arithmetic so bit decisions are exact.
    """
    ids = list(id_cols)
    bits = F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"), F.lit(1 << j).alias("w"))
        for j in range(n_bits)])).alias("b")
    th16 = (F.col("th") % (1 << n_bits)).alias("th16")
    expanded = df.select(*ids, F.col(count_col).alias("__n"), th16, bits)
    contrib = expanded.select(
        *ids, "b.j", "b.w",
        (F.col("__n") * (
            (F.floor(F.col("th16") / F.col("b.w")) % 2) * 2 - 1))
        .alias("c"))
    per_bit = contrib.groupBy(*ids, "j", "w").agg(F.sum("c").alias("s"))
    return per_bit.groupBy(*ids).agg(
        F.sum(F.when(F.col("s") > 0, F.col("w")).otherwise(F.lit(0)))
        .cast("bigint").alias("simhash"))


def blocked_pairs(sets: DataFrame, block_cols: Sequence[str],
                  payload: dict[str, str],
                  redistribute: int | None = None,
                  combine=None,
                  max_block: int | None = 10_000) -> DataFrame:
    """All within-block (d1 < d2) document pairs WITHOUT a self-join.

    Input: one row per doc with block columns, ``doc_id`` and payload
    columns. The block's rows are collected into one array, pairs are
    generated by a nested higher-order ``transform`` (i < j index
    slicing), and exploded back out — a single linear pipeline, so the
    upstream set-building subtree executes exactly once (a self-join
    would compute it per side; Spark does not always reuse the
    exchange).

    ``combine(x, y) -> list[Column]``: when given, pair structs carry
    ``(d1, d2, *combine(x, y))`` instead of copies of both payloads.
    Compute pairwise results (array intersections, distances) HERE —
    copying array payloads into every pair struct materializes
    O(block² · payload) bytes per block row before the explode, which
    is pure GC pressure (measured 2-3x slowdown + wild variance).

    Scale contract: one output row per within-block pair — the caller
    bounds the largest block. One block row must fit in task memory
    (fine for blocks up to a few thousand docs; beyond that use LSH
    banding, s03-style). ``max_block`` ENFORCES the contract: any
    block wider than it raises at execution time, naming the block —
    a loud task failure instead of an opaque shuffle-write OOM when an
    open-cardinality block (e.g. one (lang, source) at corpus scale)
    reaches this operator. Pass ``max_block=None`` only when the block
    key is provably bounded (e.g. an exact-k sample upstream).
    """
    blocks = list(block_cols)
    fields = [F.col("doc_id").alias("doc_id")] + [
        F.col(src).alias(dst) for src, dst in payload.items()]
    arr_col = F.array_sort(F.collect_list(F.struct(*fields)))
    grouped = sets.groupBy(*blocks).agg(arr_col.alias("__arr"))
    if max_block is not None:
        # The guard lives INSIDE the consumed array (as the slice
        # length) so column pruning cannot optimize it away; slice
        # from 1 for the full size is the identity.
        size = F.size(F.col("__arr"))
        err = F.concat_ws(
            " ", F.lit(f"blocked_pairs: block exceeds max_block="
                       f"{max_block} docs — route this key through the"
                       " LSH-banded path (s03-style) instead; block:"),
            *[F.col(c).cast("string") for c in blocks],
            F.concat(F.lit("size="), size.cast("string")))
        grouped = grouped.select(
            *blocks,
            F.slice(F.col("__arr"), 1,
                    F.when(size <= F.lit(max_block), size)
                    .otherwise(F.raise_error(err).cast("int")))
            .alias("__arr"))
    if redistribute:
        # Spread the (few, AQE-coalesced) block rows BEFORE the explode:
        # downstream per-pair work then parallelizes across the cluster,
        # and the shuffle moves one array row per block instead of one
        # row per pair.
        grouped = grouped.repartition(redistribute)
    arr = F.col("__arr")

    def pair_struct(x, y):
        head = [x["doc_id"].alias("d1"), y["doc_id"].alias("d2")]
        if combine is not None:
            return F.struct(*head, *combine(x, y))
        return F.struct(
            *head,
            *[x[dst].alias(f"{dst}_1") for dst in payload.values()],
            *[y[dst].alias(f"{dst}_2") for dst in payload.values()])

    pairs = F.flatten(F.transform(
        arr,
        lambda x, i: F.transform(
            F.slice(arr, i + 2, F.size(arr)),
            lambda y: pair_struct(x, y))))
    return (grouped.select(*blocks, F.explode(pairs).alias("p"))
            .select(*blocks, "p.*"))


def blocked_overlaps(docs: DataFrame, redistribute: int,
                     feasible=None) -> DataFrame:
    """(lang, source, d1, d2, n_1, n_2, n_common): the 3-gram set sizes
    and exact overlap of every within-(lang, source) document pair of
    ``docs`` (doc_id, lang, source, text[, ...]) — the all-pairs
    near-dup stage. SQL twin: plans.similarity_queries.
    blocked_common_sql() over sz_sql().

    The shingle work runs once, as 8-byte hashes
    (:func:`hashed_shingle_docs`); documents shorter than 3 chars drop
    out, as they have no rows in the oracles' shingle relation. Pairs
    come from :func:`blocked_pairs`, and the intersect happens INSIDE
    its pair lambda, so pair structs carry three scalars, never copies
    of the shingle arrays.

    ``feasible(n_1, n_2)``, when given, is an exact length filter (a
    Column): a pair it rejects skips its intersect and carries
    ``n_common = 0``."""
    sets = hashed_shingle_docs(docs, extra_cols=("lang", "source"),
                               with_n=True)

    def overlap(x, y):
        n = F.size(F.array_intersect(x["hs"], y["hs"])).cast("bigint")
        if feasible is None:
            return n
        return F.when(feasible(x["n"], y["n"]), n) \
            .otherwise(F.lit(0).cast("bigint"))

    return blocked_pairs(
        sets, ["lang", "source"], {"hs": "hs", "n": "n"},
        redistribute=redistribute,
        combine=lambda x, y: [x["n"].alias("n_1"), y["n"].alias("n_2"),
                              overlap(x, y).alias("n_common")])


def ddot(a: Column, b: Column) -> Column:
    """Row-local dot product of two equal-length double arrays: a JVM
    whole-stage-codegen zip_with + fold, no explode, no shuffle. The
    summation order is the fixed array order, so the result is
    deterministic; vs an engine summing in decimal the drift is
    <= ~1e-13 relative for 64-term dots, inside stable_round's nudge
    (functions/rounding.py) — use it for anything oracle-compared."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def vector_dims(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, dim, v): one row per vector component, dim 1-based, value
    cast float→double (exact) so downstream products match any engine."""
    return df.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("pos", "v")
    ).select(
        F.col(id_col), (F.col("pos") + 1).alias("dim"),
        F.col("v").cast("double").alias("v"))


def vector_norms(dims: DataFrame, id_col: str) -> DataFrame:
    """(id, norm): L2 norm via exact decimal sum of squares."""
    return dims.groupBy(id_col).agg(
        F.sqrt(dsum(F.col("v") * F.col("v"))).alias("norm"))


def cosine_pairs(q_dims: DataFrame, c_dims: DataFrame,
                 q_norms: DataFrame, c_norms: DataFrame,
                 qid: str = "qid", cid: str = "cid") -> DataFrame:
    """(qid, cid, cosine): exact cosine for every (query, candidate)
    pair present in both dim tables. The join key is ``dim`` plus
    whatever blocking the caller pre-applied; sums are decimal-exact."""
    dots = (
        q_dims.join(c_dims, "dim")
        .groupBy(qid, cid)
        .agg(dsum(F.col("qv") * F.col("cv"), "dot")))
    return (
        dots.join(q_norms, qid).join(c_norms, cid)
        .withColumn(
            "cosine",
            F.when((F.col("qnorm") > 0) & (F.col("cnorm") > 0),
                   F.col("dot") / (F.col("qnorm") * F.col("cnorm")))
            .otherwise(F.lit(0.0))))


# ---------------------------------------------------------------------------
# Shared IVF coarse quantizer (s07/s08/s35/s37): ONE definition of the
# centroid training and cell-assignment arithmetic that every oracle
# mirrors — tie-break and rounding changes must happen here, nowhere
# else, or a consumer silently desynchronizes from its oracle.
# ---------------------------------------------------------------------------

def train_label_centroids(e: DataFrame) -> DataFrame:
    """(label, c: array<double>): per-label centroid arrays via the
    exact per-dim decimal mean — one skew-free (label, dim) shuffle;
    the result is broadcast-class (|labels| rows)."""
    dims = vector_dims(e, "vec_id", "embedding")
    labeled = dims.join(e.select("vec_id", "label"), "vec_id")
    cent = labeled.groupBy("label", "dim").agg(
        (dsum("v") / F.count(F.lit(1)).cast("double")).alias("cv"))
    return cent.groupBy("label").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                    lambda s: s["cv"]).alias("c"))


# Default in-plan budget for the largest IVF cell a consumer may join
# within (the banded analogue of ``blocked_pairs``' ``max_block``): a
# 10k-vector cell means ~5e7 within-cell pairs for a kNN consumer —
# the largest stage a single key should ever own. A quantizer collapse
# (skewed embeddings -> one hot cell) must be a LOUD raise at 100 TB,
# not a runaway stage (VERDICT r07 "What's wrong" #1).
MAX_CELL = 10_000


def hot_cell_guard(assign: DataFrame, max_cell: int | None,
                   count_expr: Column | None = None,
                   what: str = "assign_cells",
                   hint: str | None = None) -> DataFrame:
    """In-plan hot-cell budget: raise at execution time if any cell
    holds more than ``max_cell`` vectors, identity otherwise.

    ``count_expr`` (default: ``count(*)``) is the per-cell aggregate
    defining cell size — ``cell_ranks`` passes a conditional count of
    its ``crn == 1`` rows so probe-list fan-out isn't miscounted as
    membership while every probed cell still reaches the build side
    (an absent cell would silently drop its rows in the inner join).

    The guard lives in the JOIN KEY of an inner broadcast join: the
    per-cell counts (a tiny map-side-combined aggregate, column-pruned
    to scalars) come back as a build side whose key is
    ``when(count <= budget, cell).otherwise(raise_error)`` — building
    the hash table MUST evaluate the key, and an inner join can never
    be pruned away (it changes cardinality), so no downstream
    projection — not even a bare ``count()`` — can optimize the raise
    out. The same prune-proofing idea as ``blocked_pairs`` hiding its
    guard in the consumed array slice. Identity when every cell is
    under budget, so DuckDB twins need no mirror (the raise never
    fires on oracle-compared rows); the contract is exercised by
    tests/test_text_similarity.py's guard tests, like ``max_block``'s.

    Cost: the count branch re-evaluates the assignment subtree pruned
    to (vec_id, cell) — one narrow linear pass; callers that fan the
    guarded output into several consumers should eager-checkpoint the
    RESULT so guard + consumers all read one materialization.
    """
    if max_cell is None:
        return assign
    cell_t = dict(assign.dtypes)["cell"]
    cnt = assign.groupBy("cell").agg(
        (count_expr if count_expr is not None
         else F.count(F.lit(1))).alias("__cn"))
    if hint is None:
        hint = ("retrain the quantizer with more cells"
                " (k ~ sqrt(N): sqrtn_kmeans_centroids) or raise"
                " the budget")
    err = F.concat_ws(
        " ", F.lit(f"{what}: cell exceeds max_cell={max_cell} rows"
                   f" — {hint}; cell:"),
        F.col("cell").cast("string"),
        F.concat(F.lit("size="), F.col("__cn").cast("string")))
    checked = cnt.select(
        F.when(F.col("__cn") <= F.lit(max_cell), F.col("cell"))
        .otherwise(F.raise_error(err).cast(cell_t)).alias("__gcell"))
    return (assign.join(F.broadcast(checked),
                        F.col("cell") == F.col("__gcell"))
            .drop("__gcell"))


def assign_cells(vecs: DataFrame, cent_arr: DataFrame,
                 carry: Sequence[str] = (),
                 max_cell: int | None = MAX_CELL) -> DataFrame:
    """(vec_id, cell, *carry): each vector's argmax-dot cell.

    Tie-break: (rounded dot DESC, lowest label) — the ROW_NUMBER order
    every oracle uses. The argmax is ONE map-side-combinable
    max-of-struct whose ordering fields are unique per vector, so the
    ``carry`` payload columns (vector arrays, norms, true labels) ride
    along without ever being compared and WITHOUT a window shuffle.

    ``max_cell`` is the in-plan hot-cell budget (``hot_cell_guard``):
    every consumer that joins within a cell (s08/s35/s38/s39) is
    quadratic-or-linear in cell size, so a quantizer collapse raises
    loudly instead of becoming a runaway stage. ``None`` only when the
    cell population is provably bounded upstream.
    """
    from mousedatapipeline_spark.functions.rounding import stable_round

    cd = (vecs.join(F.broadcast(
        cent_arr.withColumnRenamed("label", "__cl")))
        .withColumn("__dot", ddot(F.col("v"), F.col("c"))))
    b = cd.groupBy("vec_id").agg(
        F.max(F.struct(
            stable_round(F.col("__dot")).alias("rd"),
            (-F.col("__cl")).alias("nl"),
            *[F.col(c).alias(c) for c in carry])).alias("b"))
    out = b.select(
        "vec_id", (-F.col("b.nl")).alias("cell"),
        *[F.col(f"b.{c}").alias(c) for c in carry])
    return hot_cell_guard(out, max_cell)


def cell_ranks(vecs: DataFrame, cent_arr: DataFrame,
               max_rank: int,
               max_cell: int | None = MAX_CELL) -> DataFrame:
    """(vec_id, cell, crn): each vector's ``max_rank`` nearest cells
    by (rounded dot DESC, lowest label) — multi-probe IVF's probe
    list. The ranking window sees SCALAR rows only (vec_id, cell,
    rounded dot): vector arrays are projected away before the
    |labels|-fan-out shuffle, and callers join payloads back by
    vec_id (the 'no window over array-carrying rows' rule from s08).

    ``max_cell`` guards true cell MEMBERSHIP (the ``crn == 1`` slice,
    what probe joins fan into), not probe-list rows — same contract as
    ``assign_cells``.
    """
    from pyspark.sql import Window

    from mousedatapipeline_spark.functions.rounding import stable_round

    dots = (vecs.select("vec_id", "v")
            .join(F.broadcast(cent_arr.withColumnRenamed("label", "cell")))
            .select("vec_id", "cell",
                    stable_round(ddot(F.col("v"), F.col("c")))
                    .alias("rdot")))
    w = Window.partitionBy("vec_id").orderBy(F.desc("rdot"), F.col("cell"))
    ranked = (dots.select("vec_id", "cell",
                          F.row_number().over(w).alias("crn"))
              .filter(F.col("crn") <= max_rank))
    return hot_cell_guard(
        ranked, max_cell,
        count_expr=F.count(F.when(F.col("crn") == 1, F.lit(1))),
        what="cell_ranks")


def sqrtn_kmeans_centroids(e: DataFrame) -> DataFrame:
    """(label, c: array<double>): scale-aware IVF coarse codebook —
    k = ceil(sqrt(N)) Lloyd-refined centroids, replacing the fixed
    label vocabulary wherever cell size itself is the scale contract.

    With k cells over N vectors the expected cell holds ~sqrt(N)
    members, so a within-cell kNN consumer (s38) does ~N^1.5 pair work
    TOTAL instead of N^2/|labels| — the standard IVF sizing rule
    (FAISS: nlist ~ sqrt(N)). Deterministic and engine-portable, no
    randomness:

    - k = ceil(sqrt(count(*))); seed cells are the vectors whose
      (vec_id - min_id) is divisible by
      step = max(1, (max_id - min_id + 1) // k) — an even stride over
      the OBSERVED id domain, a pure scan-stage filter (no global
      ranking window). Anchoring at min_id makes the seed set
      provably non-empty (min_id always qualifies) on sparse or
      offset id domains, where a raw ``vec_id % step`` stride could
      select nothing and silently empty every downstream cell join
      (driver ADVICE r09); dense 0-based domains (the shipped
      corpora) select the identical seed set;
    - one Lloyd round: argmin-L2 assignment to the seed vectors (IEEE
      double fold + stable_round, the s10 _km_assign precedent — the
      distances only feed the argmin ordering, never a downstream sum,
      and the per-term decimal fold measured ~2x the whole query; ties
      (rounded dist ASC, cell ASC)), then exact per-(cell, dim)
      decimal-mean re-estimation. Cells that win no vectors drop out
      in the re-estimation GROUP BY — identically in both engines;
    - output shape matches :func:`train_label_centroids` (label, c),
      so :func:`assign_cells` consumes it unchanged (final assignment
      is its argmax-dot with the same tie-break).

    SQL twin: plans.similarity_queries.sqrtn_quantizer_sql() — ONE
    shared CTE chain (degree_cap_sql() pattern) so consumers' oracles
    can never desynchronize from this definition.

    Driver state is two scalars (count, max id) — a bounded collect,
    the s40-|V| precedent. The k x dim codebook stays broadcast-class:
    k = sqrt(1e9) ~ 32k rows x 64 doubles ~ 16 MB at billion-vector
    scale.
    """
    from mousedatapipeline_spark.functions.rounding import stable_round

    vecs = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    import math
    nm = e.agg(F.count(F.lit(1)).alias("n"),
               F.min("vec_id").alias("mn"),
               F.max("vec_id").alias("mx")).first()
    if not nm["n"]:
        # Empty corpus -> empty codebook, matching the SQL twin (its
        # seeds CTE is empty when the NULL max propagates), instead of
        # an opaque TypeError on the NULL max / k=0 division.
        return e.sparkSession.createDataFrame(
            [], "label bigint, c array<double>")
    k = int(math.ceil(math.sqrt(float(nm["n"]))))
    mn = int(nm["mn"])
    step = max(1, (int(nm["mx"]) - mn + 1) // k)
    seeds = vecs.filter(((F.col("vec_id") - mn) % step) == 0).select(
        F.col("vec_id").alias("__sc"), F.col("v").alias("c"))
    # Double fold + stable_round, the s10 _km_assign precedent: the
    # oracle's decimal sum drifts <= ~1e-13 relative from this IEEE
    # fold (ddot's documented bound), inside stable_round's nudge —
    # and the N x k distance stream is the hot loop here, where a
    # per-term decimal fold measured 3x the whole query's budget.
    # The distances only feed the argmin ordering, never a downstream
    # sum (s36's boundary-row trap does not apply).
    d2 = F.aggregate(
        F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = vecs.join(F.broadcast(seeds)).withColumn("__d", d2)
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct(
            stable_round(F.col("__d")).alias("rd"),
            F.col("__sc").alias("cell"),
            F.col("v").alias("v"))).alias("b"))
    assigned = best.select(F.col("b.cell").alias("cell"),
                           F.col("b.v").alias("v"))
    cent = (assigned.select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", (F.col("pos") + 1).alias("dim"))
            .agg((dsum("val") / F.count(F.lit(1)).cast("double")).alias("cv")))
    return (cent.groupBy("cell")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                lambda s: s["cv"]).alias("c"))
            .select(F.col("cell").alias("label"), "c"))


def degree_cap_edges(verified: DataFrame, max_degree: int) -> DataFrame:
    """Union top-m degree cap over a verified near-dup edge list
    (d1, d2, n_common, jaccard_raw) — the in-plan edge-mass contract
    for the iterative consumers (CC / PageRank / label propagation).

    Each edge is exploded in both directions, ranked per node by
    (jaccard_raw DESC, neighbor ASC), and kept iff EITHER endpoint
    ranks it <= max_degree.  Contract (tested in
    tests/test_text_similarity.py):

    - total kept mass <= max_degree * |V| (each node contributes at
      most m picks), so a pathological duplicate cluster (an N^2/2
      clique) can never feed a quadratic edge list downstream — the
      banded analogue of ``blocked_pairs``' ``max_block`` raise;
    - no node is isolated (its own top-1 pick always survives), and an
      equal-jaccard clique stays one component (every member keeps its
      edge to the min-id member; a mutual-kNN AND-cap would shatter
      large cliques);
    - deterministic across engines: jaccard_raw is one IEEE division
      of exact integer counts, and (jr DESC, nbr ASC) totally orders
      each node partition.  SQL twin: plans.similarity_queries.
      degree_cap_sql().

    Both directions of a doubly-kept edge carry identical values, so
    the closing distinct() collapses them exactly.

    Both directions come out of ONE pass over ``verified`` (explode of
    a two-struct array, the same idiom as connected_components' ``und``)
    — a union of two selects would evaluate the upstream edge subtree
    once per branch when the whole thing materializes inside a single
    job, where a lazy localCheckpoint cannot yet serve the second
    branch (measured: the union form doubled c06's LSH-verify stage,
    17.3 s vs 6.3 s uncapped at sf0.1).
    """
    from pyspark.sql import Window

    und = (verified.select(F.explode(F.array(
               F.struct(F.col("d1").alias("node"),
                        F.col("d2").alias("nbr"),
                        F.col("n_common"), F.col("jaccard_raw")),
               F.struct(F.col("d2").alias("node"),
                        F.col("d1").alias("nbr"),
                        F.col("n_common"), F.col("jaccard_raw"))))
           .alias("e"))
           .select("e.node", "e.nbr", "e.n_common", "e.jaccard_raw"))
    w = Window.partitionBy("node").orderBy(
        F.col("jaccard_raw").desc(), F.col("nbr").asc())
    return (und.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_degree)
            .select(F.least("node", "nbr").alias("d1"),
                    F.greatest("node", "nbr").alias("d2"),
                    "n_common", "jaccard_raw")
            .distinct())


# --------------------------------------------------------------------------
# Driver regime of the LSH near-dup funnel (plans.similarity_queries.
# lsh_verified_edges): the same steps as the Spark plan above — MinHash
# over the collected shingle-hash sets, banding, >= k shared bands,
# exact Jaccard, union top-m degree cap — in numpy, for a hashed corpus
# small enough to collect. Every step is exact integer arithmetic plus
# the one IEEE division of the Spark plan, so both regimes return the
# same edges.
# --------------------------------------------------------------------------
def _list_parts(col) -> tuple:
    """(flat int64 values, int64 offsets) of an Arrow list<bigint>
    column."""
    import numpy as np
    import pyarrow.compute as pc

    arr = col.combine_chunks()
    lens = pc.fill_null(pc.list_value_length(arr), 0).to_numpy()
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return pc.list_flatten(arr).to_numpy().astype(np.int64), offsets


def _valid(col):
    """Numpy mask of the non-null entries of an Arrow column."""
    import numpy as np
    import pyarrow.compute as pc

    return np.asarray(pc.is_valid(col), dtype=bool)


def _ranges(starts, counts):
    """(group, index): for every group g, indices starts[g] ..
    starts[g] + counts[g] - 1, with g repeated alongside."""
    import numpy as np

    group = np.repeat(np.arange(len(counts)), counts)
    ends = np.cumsum(counts)
    local = np.arange(ends[-1] if len(ends) else 0) \
        - np.repeat(ends - counts, counts)
    return group, np.repeat(starts, counts) + local


def band_buckets_np(tbl) -> tuple:
    """``(rows, sizes)`` for a collected ``(doc_id, lang, hs, ...)``
    table: the row indices of every (lang, band, band_sig) LSH bucket,
    bucket by bucket, and each bucket's size.

    MinHash and banding as :func:`minhash_cols` and
    :func:`band_signatures_wide` compute them; a band signature is
    compared as its ROWS_PER_BAND minhashes, which the dash-joined
    decimal string identifies exactly. Rows with a null ``doc_id`` or
    ``lang`` enter no bucket: Spark's equi-join never matches a null
    key, and a null-id row fails the ``d1 < d2`` filter."""
    import numpy as np

    vals, offsets = _list_parts(tbl.column("hs"))
    lens = np.diff(offsets)
    lang = tbl.column("lang").combine_chunks().dictionary_encode().indices
    keep = np.flatnonzero(_valid(tbl.column("doc_id")) & _valid(lang)
                          & (lens > 0))
    if not len(keep):
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    _, idx = _ranges(offsets[keep], lens[keep])
    kept = vals[idx]
    heads = np.concatenate([[0], np.cumsum(lens[keep])[:-1]])
    mh = np.stack([
        np.minimum.reduceat((MINHASH_A[i] * kept + MINHASH_B[i]) % MOD,
                            heads)
        for i in range(N_PERM)])
    code = lang.fill_null(0).to_numpy(zero_copy_only=False)[keep]
    keys = np.concatenate([
        np.stack([code, np.full(len(keep), b),
                  *mh[b * ROWS_PER_BAND:(b + 1) * ROWS_PER_BAND]])
        for b in range(N_BANDS)], axis=1)
    rows = np.tile(keep, N_BANDS)
    order = np.lexsort(keys[::-1])
    keys, rows = keys[:, order], rows[order]
    new = np.ones(len(rows), dtype=bool)
    new[1:] = (keys[:, 1:] != keys[:, :-1]).any(axis=0)
    bounds = np.append(np.flatnonzero(new), len(rows))
    return rows, np.diff(bounds)


def pair_volume(sizes) -> int:
    """Row pairs the bucket self-join emits: sum of k(k-1)/2 over the
    bucket sizes."""
    return int((sizes * (sizes - 1) // 2).sum())


def _common_counts(vals, offsets, r1, r2, chunk: int = 1 << 22):
    """|hs[r1] & hs[r2]| for every row pair, hs being distinct-valued
    lists (array_distinct): the two lists of each pair are tagged with
    the pair's index and sorted together, so a repeated (pair, hash)
    key is one common element. Hash values are < MOD = 2^31 - 1, which
    leaves the bits above 31 for the tag. Pairs go in chunks of about
    ``chunk`` elements to bound the sort's memory."""
    import numpy as np

    lens = np.diff(offsets)
    cum = np.cumsum(lens[r1] + lens[r2])
    out = np.zeros(len(r1), dtype=np.int64)
    lo = 0
    while lo < len(r1):
        base = cum[lo - 1] if lo else 0
        hi = max(lo + 1, int(np.searchsorted(cum, base + chunk, "right")))
        p1, i1 = _ranges(offsets[r1[lo:hi]], lens[r1[lo:hi]])
        p2, i2 = _ranges(offsets[r2[lo:hi]], lens[r2[lo:hi]])
        key = ((np.concatenate([p1, p2]) << 31)
               | np.concatenate([vals[i1], vals[i2]]))
        key.sort()
        same = key[1:] == key[:-1]
        out[lo:hi] = np.bincount(key[1:][same] >> 31, minlength=hi - lo)
        lo = hi
    return out


def driver_verified_edges(tbl, rows, sizes, min_shared_bands: int,
                          min_jaccard: float, max_degree: int):
    """Arrow ``(d1, d2, n_common, jaccard_raw)`` from a collected
    ``(doc_id, lang, hs, ...)`` table and its :func:`band_buckets_np`:
    the Spark funnel's candidate, verify and degree-cap steps.

    - Candidates: every row pair inside a bucket with different ids,
      oriented ``d1 < d2``, counted per id pair; pairs seen at least
      ``min_shared_bands`` times survive.
    - Verify: each candidate is scored against EVERY row carrying its
      ids (the Spark plan's semi-join and joins key on ``doc_id``
      alone, so a repeated id is scored once per copy, whatever its
      lang): ``n_common`` is the size of the hash-set intersection and
      ``jaccard_raw`` its one IEEE division, kept at ``min_jaccard``
      or above.
    - Cap: :func:`degree_cap_edges`' union top-m rule, ranked by
      (jaccard_raw DESC, neighbor ASC) per node, then distinct. Only a
      repeated id can tie on both keys; Spark's choice among such rows
      is arbitrary, and this one takes the smaller ``n_common``.

    ``d1``/``d2`` keep the Arrow type of ``doc_id``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = tbl.column("doc_id")
    vals, offsets = _list_parts(tbl.column("hs"))
    lens = np.diff(offsets)
    # Dense, order-preserving ranks of the non-null ids; `rep` is one
    # row carrying each rank's id.
    id_rows = np.flatnonzero(_valid(ids))
    uniq, first, inv = np.unique(np.asarray(pc.take(ids, id_rows)),
                                 return_index=True, return_inverse=True)
    n_ids = len(uniq)
    rep = id_rows[first]
    dense = np.full(tbl.num_rows, -1, dtype=np.int64)
    dense[id_rows] = inv

    # Candidates: position i of a bucket pairs with every later one.
    heads = np.cumsum(sizes) - sizes
    later = np.repeat(sizes, sizes) - 1 \
        - (np.arange(len(rows)) - np.repeat(heads, sizes))
    i, j = _ranges(np.arange(len(rows)) + 1, later)
    a, b = dense[rows[i]], dense[rows[j]]
    apart = a != b
    pairs, shared = np.unique(
        np.minimum(a, b)[apart] * n_ids + np.maximum(a, b)[apart],
        return_counts=True)
    pairs = pairs[shared >= min_shared_bands]
    c1, c2 = pairs // n_ids, pairs % n_ids

    # Verify against every row of both ids.
    by_id = id_rows[np.argsort(inv, kind="stable")]
    per_id = np.bincount(inv, minlength=n_ids)
    id_head = np.cumsum(per_id) - per_id
    cross = per_id[c1] * per_id[c2]
    pair, k = _ranges(np.zeros(len(cross), dtype=np.int64), cross)
    width = per_id[c2[pair]]
    r1 = by_id[id_head[c1[pair]] + k // width]
    r2 = by_id[id_head[c2[pair]] + k % width]
    common = _common_counts(vals, offsets, r1, r2)
    jr = common.astype(np.float64) \
        / (lens[r1] + lens[r2] - common).astype(np.float64)
    ok = jr >= min_jaccard
    d1, d2, common, jr = c1[pair][ok], c2[pair][ok], common[ok], jr[ok]

    # Union top-m degree cap.
    node, nbr = np.concatenate([d1, d2]), np.concatenate([d2, d1])
    nc2, jr2 = np.concatenate([common, common]), np.concatenate([jr, jr])
    order = np.lexsort((nc2, nbr, -jr2, node))
    ranked = node[order]
    rank = np.arange(len(order)) - np.searchsorted(ranked, ranked)
    kept = order[rank < max_degree]
    lo, hi = np.minimum(node, nbr)[kept], np.maximum(node, nbr)[kept]
    nc2, jr2 = nc2[kept], jr2[kept]
    order = np.lexsort((jr2.view(np.int64), nc2, hi, lo))
    lo, hi, nc2, jr2 = lo[order], hi[order], nc2[order], jr2[order]
    new = np.ones(len(lo), dtype=bool)
    new[1:] = ((lo[1:] != lo[:-1]) | (hi[1:] != hi[:-1])
               | (nc2[1:] != nc2[:-1]) | (jr2[1:] != jr2[:-1]))
    return pa.table({
        "d1": pc.take(ids, rep[lo[new]]),
        "d2": pc.take(ids, rep[hi[new]]),
        "n_common": pa.array(nc2[new], type=pa.int64()),
        "jaccard_raw": pa.array(jr2[new], type=pa.float64())})
