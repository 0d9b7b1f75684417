"""Deduplication operators over a document corpus.

Exact dedup, MinHash+LSH banding, SimHash, and exact n-gram Jaccard —
each expressed as DataFrame compositions of built-in functions (no
Python UDFs), so the whole pipeline stays inside whole-stage codegen
and scales by shuffle on content-derived keys.

Scale notes (100 TB):
- All shingle/minhash work is per-row array math (`transform`/
  `array_min`) — zero shuffle until the candidate-pair join.
- The candidate join shuffles on (band, minhash) — a content hash, so
  it distributes uniformly *except* for monster clusters (boilerplate
  docs). ``max_bucket`` caps those: LSH buckets larger than the cap are
  dropped (standard practice — a bucket of k docs implies k²/2 pairs).
- Portable hashing: md5 (identical in Spark and DuckDB) so every
  operator here is oracle-checkable; swap for xxhash64 when oracle
  parity is not needed (faster, same structure).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..plans import keep as _keep

DEFAULT_BANDS = 4
DEFAULT_MAX_BUCKET = 100


def tokens_col(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def shingles_col(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles; docs shorter than n shingle to the
    whole text.

    Implemented as ONE codegen'd regex pass: a token-boundary-anchored
    lookahead captures every overlapping n-gram ((?<![^ ]) pins match
    positions to token starts). ~13x faster than building grams from
    the token array with transform/element_at, whose lambda is
    interpreted per element. Equivalent to the split-on-' ' definition
    for single-space-delimited text (the documents corpus; verified by
    the DuckDB differential check, which still uses the list form)."""
    c = F.col(text) if isinstance(text, str) else text
    pat = r"(?<![^ ])(?=(\S+" + r" \S+" * (n - 1) + r"))"
    grams = F.regexp_extract_all(c, F.lit(pat), 1)
    return F.when(F.size(grams) > 0, F.array_distinct(grams)).otherwise(F.array(c))


def band_minhashes(shingles: Column, bands: int = DEFAULT_BANDS) -> Column:
    """array of ``bands`` MinHash values: band b is the min over shingles
    of the b-th 8-hex-char window of ONE md5 per shingle. Disjoint
    windows of a cryptographic hash ≈ independent permutations, at a
    quarter of the hash work of keyed per-band hashing.

    The md5 array is bound once as a lambda variable (single-element
    transform idiom) so project collapsing cannot re-inline the hash
    pass into each band's min."""
    hashes_once = F.transform(shingles, F.md5)

    def mins(hs: Column) -> Column:
        return F.array(
            *[F.array_min(F.transform(hs, lambda h: F.substring(h, 1 + 8 * b, 8))) for b in range(bands)]
        )

    return F.element_at(F.transform(F.array(hashes_once), mins), 1)


def _band_minhashes_sql(shingle_col: str, bands: int = DEFAULT_BANDS) -> Column:
    """:func:`band_minhashes` as ONE ``F.expr`` over a NAMED shingle
    column — the identical expression tree (same single-binding md5
    idiom), parsed by the JVM in one py4j roundtrip. The lambda-builder
    form above costs ~150 ms of py4j chatter per plan build, and every
    query rebuilds its plan on each call, so construction cost is a
    real per-query tax at bench scale (r11; same output,
    oracle-checked)."""
    mins = ", ".join(
        f"array_min(transform(hs, h -> substring(h, {1 + 8 * b}, 8)))"
        for b in range(bands)
    )
    return F.expr(
        f"element_at(transform(array(transform(`{shingle_col}`, s -> md5(s))), "
        f"hs -> array({mins})), 1)"
    )


def signatures_from_shingles(
    sh: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(id, band, minhash) from a precomputed shingle column — lets a
    pipeline materialize shingles ONCE and feed both candidate
    generation and the exact-Jaccard verify stage (see
    ``near_dup_verified``); at corpus scale the shingle table is the
    thing you persist/write, not recompute per consumer."""
    return sh.select(
        id_col,
        F.posexplode(_band_minhashes_sql(shingle_col, bands)).alias("band", "minhash"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bands: int = DEFAULT_BANDS
) -> DataFrame:
    """(id, band, minhash) — one row per band per doc. Narrow (no shuffle)."""
    sh = df.select(F.col(id_col), shingles_col(text_col).alias("shingles"))
    return signatures_from_shingles(sh, id_col, "shingles", bands)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = DEFAULT_BANDS,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate near-dup pairs (a < b) sharing any band bucket.

    Plan: signatures are computed once (narrow); a count aggregate per
    (band, minhash) — map-side combinable, constant memory per key —
    decides which buckets are usable (2..max_bucket members), and only
    THOSE signatures flow into the collect_list that materializes a
    bucket's id list. The guard is structural, not advisory: a
    degenerate signature (empty text, boilerplate) owning half the
    corpus is dropped by the count stage and never reaches an
    aggregation buffer. Both the count and the collect shuffle on the
    same (band, minhash) key, so the signature subplan's exchange is
    reused rather than recomputed. Pairs (a < b) are generated *per
    bucket row* with transform/slice — no self-join — so bucket caps
    bound the quadratic pair work.
    """
    if shingles_df is not None:
        sigs = signatures_from_shingles(shingles_df, id_col, "shingles", bands)
    else:
        sigs = minhash_signatures(df, id_col, text_col, bands)
    # consumed twice (bucket-size count, then the gated collect) — the
    # signature pass is the expensive narrow stage (one md5 per
    # shingle), so cache it rather than replay it; bounded-lifetime
    # keep() releases the block once later queries rotate it out.
    sigs = _keep(sigs)
    usable_keys = (
        sigs.groupBy("band", "minhash")
        .agg(F.count("*").alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= max_bucket))
        .select("band", "minhash")
    )
    buckets = (
        sigs.join(usable_keys, ["band", "minhash"], "left_semi")
        .groupBy("band", "minhash")
        .agg(F.collect_list(id_col).alias("ids"))
    )
    # one F.expr, not nested python lambdas — same tree, one py4j
    # roundtrip instead of dozens per build (see _band_minhashes_sql)
    pairs = F.expr(
        "flatten(transform(array_sort(ids), (x, i) -> "
        "transform(slice(array_sort(ids), i + 2, size(ids)), "
        "y -> struct(x AS a, y AS b))))"
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        # strict BY VALUE: a duplicated id in a bucket would otherwise
        # emit an a==b self-pair (the self-join form's a < b excluded it)
        .filter(F.col("p.a") < F.col("p.b"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def exact_dup_stats(df: DataFrame, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """Exact-dup profile per group: docs, distinct texts (by md5), dups."""
    return (
        df.groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct(F.md5(F.col(text_col))).alias("n_distinct_texts"),
        )
        .withColumn("n_dup_docs", F.col("n_docs") - F.col("n_distinct_texts"))
    )


def simhash16(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash over distinct tokens: ONE md5 per token; bit j of
    the signature is the majority vote over tokens of the parity of hex
    nibble j of that hash.

    Plan shape: narrow explode → codegen'd md5 + 16 nibble-parity vote
    columns → groupBy(id) with 16 SUMs. The hash work is 1 md5/token
    (not 16), every expression stays in whole-stage codegen, and the
    map-side partial aggregation means the shuffle carries ~one row of
    16 longs per (doc, input partition) — not the token stream — so the
    plan holds at 100 TB."""
    toks = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens_col(text_col))).alias("tok")
    ).withColumn("h", F.md5("tok"))
    votes = [
        (F.sum((F.ascii(F.substring("h", j + 1, 1)) % 2) * 2 - 1)).alias(f"s{j}")
        for j in range(16)
    ]
    maj = toks.groupBy(id_col).agg(*votes)
    sig = None
    for j in range(16):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return maj.select(F.col(id_col), sig.alias("simhash"))


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    The inverted-index self-join shuffles on the shingle value; intended
    for a sampled/blocked subset — for full-corpus near-dup at scale use
    ``lsh_candidate_pairs`` first, then verify candidates with this.
    Jaccard emitted as a single exact double division (deterministic)."""
    sh = df.select(F.col(id_col), F.explode(shingles_col(text_col)).alias("shingle"))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.select(F.col(id_col).alias("a"), "shingle")
    b = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    min_len: int = 30,
) -> DataFrame:
    """EXACT-SUBSTRING dedup, stage 1: content-defined chunking (CDC).

    The suffix-array approach to exact substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better") needs a
    global sorted index; the distributed-friendly equivalent is the
    rsync/LBFS trick — cut every document at positions where a rolling
    window's hash satisfies a fixed predicate. Because the cut rule
    depends only on LOCAL content, a long substring shared by two
    documents produces IDENTICAL interior chunks in both regardless of
    its offset in either — so repeated passages become equal chunk
    hashes, discoverable with one groupBy, no alignment search.

    Portable determinism: the breakpoint predicate is
    ``md5(window) starts with '0'`` (expected cut rate 1/16 → mean
    chunk ≈ window+16 chars) — md5 and 1-based char substring behave
    identically in Spark and DuckDB, so the whole operator is
    oracle-checkable. Everything is per-row JVM array math (sequence →
    transform → filter → explode): zero Python, zero shuffle until the
    chunk-hash groupBy, which distributes on content.

    Returns one row per chunk of length >= min_len:
    (id, chunk_hash, chunk_len).
    """
    w = int(window)
    expr = f"""
    CASE WHEN length({text_col}) >= {w}
         THEN filter(sequence(1, length({text_col}) - {w} + 1),
                     i -> substring(md5(substring({text_col}, i, {w})), 1, 1) = '0')
         ELSE array()
    END
    """
    bps = F.expr(expr)
    starts = F.array_distinct(F.concat(F.array(F.lit(1)), bps))
    chunks = F.expr(
        f"""
        transform(sequence(1, size(__starts)),
          i -> substring({text_col},
                         element_at(__starts, i),
                         IF(i < size(__starts),
                            element_at(__starts, i + 1) - 1,
                            length({text_col}))
                         - element_at(__starts, i) + 1))
        """
    )
    return (
        df.select(F.col(id_col), F.col(text_col), starts.alias("__starts"))
        .select(F.col(id_col), F.explode(chunks).alias("chunk"))
        .filter(F.length("chunk") >= min_len)
        .select(
            id_col,
            F.md5(F.col("chunk")).alias("chunk_hash"),
            F.length("chunk").alias("chunk_len"),
        )
    )


def cdc_chunks_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    min_len: int = 30,
) -> str:
    """DuckDB mirror of :func:`cdc_chunks` (list lambdas + md5)."""
    w = int(window)
    return f"""
    WITH b AS (
      SELECT {id_col}, {text_col},
             list_prepend(1, list_filter(
               CASE WHEN length({text_col}) >= {w}
                    THEN range(1, length({text_col}) - {w} + 2)
                    ELSE [] END,
               i -> substring(md5(substring({text_col}, i, {w})), 1, 1) = '0')) AS starts0
      FROM {table}
    ), s AS (
      -- DuckDB's list_distinct does NOT preserve order; sort to restore
      -- ascending cut positions (Spark's array_distinct is order-stable)
      SELECT {id_col}, {text_col}, list_sort(list_distinct(starts0)) AS starts FROM b
    ), c AS (
      SELECT {id_col},
             unnest(list_transform(range(1, len(starts) + 1),
               i -> substring({text_col}, starts[i],
                              (CASE WHEN i < len(starts) THEN starts[i + 1] - 1
                                    ELSE length({text_col}) END) - starts[i] + 1))) AS chunk
      FROM s
    )
    SELECT {id_col}, md5(chunk) AS chunk_hash, length(chunk) AS chunk_len
    FROM c WHERE length(chunk) >= {min_len}
    """


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs set-similarity join with PPJoin-style PREFIX FILTERING
    — lossless candidate pruning for Jaccard ≥ ``threshold``.

    Order every document's shingles by GLOBAL frequency (rarest
    first); a pair with Jaccard ≥ t must share at least one token
    among each side's first ``|s| - ceil(t·|s|) + 1`` tokens (if the
    prefixes were disjoint, the overlap is confined to the suffixes,
    which are too short to reach t). So the inverted-index join runs
    on PREFIXES only — the rarest ~(1-t) fraction of each set — and
    candidates collapse further because rare tokens have short posting
    lists. Exact verify on full sets follows; the composition returns
    EXACTLY what the naive all-shingle join returns (the oracle checks
    this equivalence), at a fraction of the join volume.

    Scale shape: one shuffle to count token frequencies, one to
    re-sort sets (groupBy id), one prefix-token join, one verify join
    touching only candidates. No LSH false negatives, no all-pairs —
    the deterministic alternative to MinHash when exact recall at a
    known threshold is required."""
    from pyspark.sql.window import Window

    # The 64-bit token dictionary is applied AT THE EXPLODE (r11): every
    # downstream stage — the frequency window's exchange, the per-doc
    # array_sort, the prefix joins, array_intersect — then moves and
    # compares 8-byte longs instead of ~20-byte shingle text (the
    # standard set-sim-join token dictionary, hash-based so it needs no
    # global id assignment). A collision only matters when two distinct
    # shingles inside ONE pair's union collide (~|union|²/2⁶⁴ per pair —
    # vanishing, and the string-exact oracle equivalence check would
    # catch it); a collision in the freq window merely merges two
    # tokens' frequencies, which only perturbs the (still total, still
    # globally shared) sort order — every PPJoin filter below is
    # lossless under ANY shared total order, so the verified output is
    # unchanged by construction.
    sh = df.select(
        F.col(id_col),
        F.explode(shingles_col(text_col)).alias("shingle"),
    ).select(F.col(id_col), F.xxhash64("shingle").alias("tok"))
    # global token frequency as a COUNT WINDOW over the token
    # partition, not aggregate-then-self-join: the join form shuffled
    # the token stream twice (once into the frequency aggregate, once
    # into the join) — the window attaches freq in the single exchange
    # (r11: one Exchange removed; identical freq values, token
    # cardinality is corpus-wide so the partitioning is never hot)
    ranked = sh.withColumn(
        "freq", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    )
    sorted_sets = ranked.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("freq", "tok"))).alias("toks")
    )
    sets = sorted_sets.select(
        F.col(id_col),
        F.expr("transform(toks, x -> x.tok)").alias("s"),
        F.size("toks").alias("sz"),
    ).withColumn(
        "prefix",
        F.slice(
            "s",
            F.lit(1),
            (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int"),
        ),
    )
    # four consumers below (two prefix explodes, two verify sides) —
    # without a persist each one replays shingle + freq + sort from the
    # scan, quadrupling the dominant stage. Bounded-lifetime keep().
    sets = _keep(sets)
    # Candidate generation with the full PPJoin filter stack — each
    # filter is LOSSLESS (the oracle equivalence proves it):
    #  * prefix filter: join only the rare prefixes (above);
    #  * length filter: J >= t forces min(sz)/max(sz) >= t;
    #  * positional filter: a token shared at 0-based positions (i, j)
    #    of the globally-sorted sets bounds the overlap by
    #    min(i, j) + 1 + min(sza-i-1, szb-j-1), which is an upper
    #    bound on |a ∩ b| for EVERY shared token, so requiring it to
    #    reach alpha = ceil(t/(1+t)·(sza+szb)) (the overlap J >= t
    #    needs) never drops a true pair.
    # Verify cost is linear in surviving candidates, so these cheap
    # in-join predicates are where the join volume actually falls.
    pa = sets.select(
        F.col(id_col).alias("a"),
        F.col("sz").alias("sza"),
        F.posexplode("prefix").alias("i", "tok"),
    )
    pb = sets.select(
        F.col(id_col).alias("b"),
        F.col("sz").alias("szb"),
        F.posexplode("prefix").alias("j", "tok"),
    )
    alpha = F.ceil(
        F.lit(threshold) / (1.0 + threshold) * (F.col("sza") + F.col("szb"))
    )
    ubound = (
        F.least(F.col("i"), F.col("j"))
        + 1
        + F.least(F.col("sza") - F.col("i") - 1, F.col("szb") - F.col("j") - 1)
    )
    cand = (
        pa.join(pb, "tok")
        .filter(F.col("a") < F.col("b"))
        .filter(
            F.least("sza", "szb").cast("double")
            >= F.lit(threshold) * F.greatest("sza", "szb").cast("double")
        )
        .filter(ubound >= alpha)
        .select("a", "b")
        .distinct()
    )
    xa = sets.select(F.col(id_col).alias("a"), F.col("s").alias("sa"), F.col("sz").alias("sza"))
    xb = sets.select(F.col(id_col).alias("b"), F.col("s").alias("sb"), F.col("sz").alias("szb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union_sz = (F.col("sza") + F.col("szb") - inter).cast("double")
    jaccard = inter.cast("double") / union_sz
    # The threshold filter references both verify sides, so Catalyst
    # folds it into the last join's CONDITION — and the filter-as-
    # division form evaluates array_intersect TWICE per candidate
    # (numerator + denominator; the join-condition path gets no
    # common-subexpression elimination). For a DYADIC threshold
    # (t = p/2^k — 0.5 here) the equivalent single-intersect integer
    # form  inter·(1+t) >= t·(sza+szb)  is EXACT: every product is a
    # (small-int x dyadic) double, so both sides are computed without
    # rounding, and the division form equals the same rational
    # predicate because |inter/u - t| is either 0 or >= 1/(2u) —
    # far above half-ulp for any real set size. Identical survivors by
    # construction (asserted against the division form in tests and by
    # the all-shingle oracle), ~one intersect per candidate instead of
    # two: measured 70 -> 46 s at sf1 (40.5M candidates). Non-dyadic
    # thresholds keep the division form — for them the integer form
    # can flip an exact-boundary pair (e.g. inter/u == 1/5 vs the
    # double literal 0.2), so the rewrite would not be lossless.
    scaled = threshold * float(1 << 20)
    if scaled == int(scaled):  # dyadic with <= 20 fraction bits
        keep_pair = inter.cast("double") * F.lit(1.0 + threshold) >= F.lit(
            threshold
        ) * (F.col("sza") + F.col("szb")).cast("double")
    else:
        keep_pair = jaccard >= threshold
    return (
        cand.join(xa, "a")
        .join(xb, "b")
        .filter(keep_pair)
        .select("a", "b", jaccard.alias("jaccard"))
    )


def hamming_near_dup(
    hashes: DataFrame,
    id_col: str = "media_id",
    hi_col: str = "dhash_hi",
    lo_col: str = "dhash_lo",
    max_hamming: int = 3,
) -> DataFrame:
    """Banded Hamming self-join over 64-bit signatures split into two
    32-bit halves: candidates must share one of four 16-bit bands, then
    exact popcount-of-XOR verifies ``hamming <= max_hamming``.

    LOSSLESS for ``max_hamming <= 3`` by pigeonhole: 4 bands, at most 3
    differing bits, so some band is bit-identical — band-join recall is
    exactly 1 and an all-pairs oracle must agree. One shuffle on
    (band, value) — never on raw content — and each bucket holds only
    signatures that agree on 16 bits, so bucket width is bounded by the
    corpus's true duplicate structure (cf. the LSH degenerate-bucket
    guard; dHash of non-duplicate content is ~uniform on 2^16 per band).

    The band value is an ``int``: (int band, int bv) packs into one long
    join key, so a broadcast build side is a small long-keyed relation.
    With a ``bigint`` value the key is 96 bits wide and Spark builds a
    ``BytesToBytesMap`` relation instead, whose first page alone is
    ``spark.buffer.pageSize`` (64 MB with the default 8g driver) however
    few rows it holds.
    """
    if max_hamming > 3:
        raise ValueError("4x16 banding is only lossless for max_hamming <= 3")
    hi, lo = F.col(hi_col), F.col(lo_col)
    banded = hashes.select(
        F.col(id_col), hi.alias("hi"), lo.alias("lo"),
        F.posexplode(
            F.array(
                lo.bitwiseAND(F.lit(65535)),
                F.shiftright(lo, 16).bitwiseAND(F.lit(65535)),
                hi.bitwiseAND(F.lit(65535)),
                F.shiftright(hi, 16).bitwiseAND(F.lit(65535)),
            ).cast("array<int>")
        ).alias("band", "bv"),
    )
    # both join sides read `banded`; without a cache the upstream
    # signature computation (often a decode/hash Arrow pass) runs twice
    banded = _keep(banded)
    a = banded.select(
        F.col(id_col).alias("a"), F.col("hi").alias("hia"),
        F.col("lo").alias("loa"), "band", "bv",
    )
    b = banded.select(
        F.col(id_col).alias("b"), F.col("hi").alias("hib"),
        F.col("lo").alias("lob"), "band", "bv",
    )
    ham = F.bit_count(F.col("hia").bitwiseXOR(F.col("hib"))) + F.bit_count(
        F.col("loa").bitwiseXOR(F.col("lob"))
    )
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
        .distinct()
    )
