"""Document-table operators for training-data pipelines: fingerprinting,
dedup (exact, MinHash-LSH, SimHash, n-gram Jaccard), language-ID heuristic,
quality scoring, token counting, TF-IDF term weighting, PII scrubbing.

No analogue in the reference (SURVEY.md §2C) — added surface required for the
engine to be useful as a 100 TB corpus processor. Everything stays JVM-side
(built-in functions) except nothing: even MinHash is expressed with
``transform``/``aggregate`` higher-order functions over JVM hashes, so there
is no Python in any hot path.

Scale notes: exact dedup is one hash-groupBy (map-side combined). MinHash-LSH
replaces the O(n²) pair join with a band-bucket join: candidate pairs only
for docs sharing a band signature. The n-gram Jaccard join is quadratic per
shared shingle and is intended for verification of candidates, not full-corpus
sweeps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"

# tiny stopword inventories for the language-ID heuristic
_LANG_MARKERS = {
    "en": r"\b(the|of|and|to|in|is|for|with)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit)\b",
    "fr": r"\b(le|la|les|et|est|pas|pour)\b",
    "es": r"\b(el|la|los|las|es|y|por|para)\b",
}


# BPE-pretokenizer-ish segmentation: word pieces, numbers, punctuation runs —
# the usual pre-split GPT-style byte-pair encoders apply before merging
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def tokens(col) -> "F.Column":
    return F.split(F.trim(col), TOKEN_SPLIT_RE)


def bpe_ish_token_count(col) -> "F.Column":
    """Count of BPE-ish pretokens (letter runs / digit runs / symbol runs)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_RE), 0))


def _poly31_hash(g, n: int):
    """Portable polynomial hash of an ≤n-char gram: Σ code(c_i)·31^(n-1-i)
    with code = unicode point, 0 past the end. Bounded by 255·31^(n-1)·n —
    exact in int64 for n ≤ 11. Chosen because BOTH Spark and DuckDB compute it
    with plain arithmetic (ascii/ord + substr), so the DuckDB oracle can
    replicate fingerprints value-exactly; xxhash64 stays the production
    default (faster, better-mixed)."""
    acc = F.lit(0).cast("long")
    for d in range(n):
        acc = acc + F.ascii(F.substring(g, d + 1, 1)).cast("long") * (
            31 ** (n - 1 - d)
        )
    return acc


def char_ngram_fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n: int = 5, k: int = 8, hash: str = "xxhash64",
) -> DataFrame:
    """Rolling-hash document fingerprint: the k smallest hash values over
    the document's character n-grams (winnowing-style min-sampling). Equal
    fingerprints ⇒ near-identical content; overlap size estimates Jaccard.
    Returns (id, fingerprint: array<long> ascending).

    ``hash``: 'xxhash64' (production) or 'poly31' (portable — replicable in
    ANSI SQL for the value-exact oracle gate; weaker mixing, same min-k
    winnowing semantics).
    """
    t = F.col(text_col)
    if hash == "xxhash64":
        gram_hash = lambda i: F.xxhash64(t.substr(i + 1, F.lit(n)))  # noqa: E731
    elif hash == "poly31":
        gram_hash = lambda i: _poly31_hash(t.substr(i + 1, F.lit(n)), n)  # noqa: E731
    else:
        raise ValueError(f"unknown hash {hash!r}")
    hashes = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.length(t) - n, F.lit(0))),
                gram_hash,
            )
        )
    )
    return df.select(
        F.col(id_col).alias("id"), F.slice(hashes, 1, k).alias("fingerprint")
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content with the
    minimum id as representative and the duplicate count."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_sha"))
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token/char statistics (quality-filter features)."""
    toks = tokens(F.col(text_col))
    return (
        df.withColumn("n_tokens", F.size(toks))
        .withColumn("n_chars_obs", F.length(F.col(text_col)))
        .withColumn("n_bpe_tokens", bpe_ish_token_count(F.col(text_col)))
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Cheap quality features + a composite score: mean token length,
    alpha ratio, and a [0,1] score that penalizes degenerate docs."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_chars = F.length(F.col(text_col))
    alpha = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", ""))
    mean_tok_len = (alpha / F.greatest(n_tok, F.lit(1))).cast("double")
    alpha_ratio = (alpha / F.greatest(n_chars, F.lit(1))).cast("double")
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("mean_token_len", F.round(mean_tok_len, 6))
        .withColumn("alpha_ratio", F.round(alpha_ratio, 6))
        .withColumn(
            "quality",
            F.round(
                F.least(n_tok / F.lit(20.0), F.lit(1.0)) * alpha_ratio, 6
            ),
        )
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language heuristic: count per-language stopword hits,
    pick the max (deterministic order on ties: en > de > fr > es > und)."""
    out = df
    for lg, pat in _LANG_MARKERS.items():
        out = out.withColumn(
            f"_hits_{lg}", F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0))
        )
    best = F.lit("und")
    best_hits = F.lit(0)
    # forward order: on tied hit counts the earliest language (en) wins
    for lg in _LANG_MARKERS:
        best = F.when(F.col(f"_hits_{lg}") > best_hits, F.lit(lg)).otherwise(best)
        best_hits = F.when(
            F.col(f"_hits_{lg}") > best_hits, F.col(f"_hits_{lg}")
        ).otherwise(best_hits)
    out = out.withColumn("lang_pred", best)
    return out.drop(*[f"_hits_{lg}" for lg in _LANG_MARKERS])


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle)."""
    toks = tokens(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(F.array_distinct(grams)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (a < b, jaccard ≥ threshold).
    Quadratic in docs-per-shingle — use MinHash-LSH to pre-candidate at scale."""
    sh = shingles(df, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("a"), "shingle")
    b = sh.select(F.col("id").alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("id").alias("b"), F.col("sz").alias("szb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """DIRECTED shingle containment ``(a, b, containment)`` with
    containment(a→b) = |S(a) ∩ S(b)| / |S(a)| ≥ threshold, a ≠ b.

    Jaccard misses subset duplication: a paragraph quoted whole inside a
    10× longer page has Jaccard ~0.1 but containment ~1.0 — the Broder
    1997 "containment" resemblance twin, and the right detector for
    quote-inclusion / page-wrapping dedup in a web corpus. Same
    shingle-join shape as ngram_jaccard_pairs (quadratic per shared
    shingle — LSH-candidate first at scale); emitted per direction, so a
    wholly-contained short doc scores 1.0 as ``a`` while its container
    scores low as ``a``."""
    sh = shingles(df, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("a"), "shingle")
    b = sh.select(F.col("id").alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("a"), F.col("sz").alias("sza"))
    return (
        inter.join(sa, "a")
        .select(
            "a", "b", F.round(F.col("inter") / F.col("sza"), 6).alias("containment")
        )
        .filter(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (JVM-side: xxhash64 per shingle, min per permutation-salt)

def minhash_signatures(
    sh: DataFrame, num_hashes: int = 32
) -> DataFrame:
    """(id, sig: array<long>) — sig[i] = min over shingles of xxhash64(shingle, i).

    The per-salt hash feeds its min aggregate directly — no intermediate
    array<long> materialization per shingle row (same values: min over rows
    of xxhash64(shingle, i) ≡ min over the old array's slot i)."""
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs).select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int = 10_000,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs ``(a, b, siga, sigb)`` (a < b) via banded MinHash-LSH.

    bands must divide num_hashes; rows-per-band r = num_hashes/bands gives the
    usual S-curve: P(candidate) = 1 − (1 − s^r)^bands.

    ``max_bucket_size`` caps the within-bucket join: a band bucket holding
    > max_bucket_size docs (a degenerate near-constant corpus) is dropped
    before it can generate a quadratic pair set — run exact dedup (sha256
    groupBy) first so such buckets are true pathologies, not data.

    ``sh``: optional precomputed (ideally persisted) shingle table, so a
    caller that needs shingles again (exact verification) tokenizes once.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    if sh is None:
        sh = shingles(df, id_col, text_col, n)
    sig = minhash_signatures(sh, num_hashes)

    band_keys = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[bi * r + j] for j in range(r)]
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", "bk.band", "bk.bucket")
    # persisted: scanned three times below (bucket sizes + both join sides);
    # without it each scan re-runs the whole shingle→minhash pipeline.
    # Left cached for the lazy result plan (LRU-evictable; CacheManager
    # dedupes repeat calls by plan equality — same pattern as walks.adj2)
    band_keys = band_keys.persist()
    sizes = band_keys.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("bsz"))
    band_keys = band_keys.join(
        F.broadcast(sizes.filter(F.col("bsz") > max_bucket_size)),
        ["band", "bucket"],
        "left_anti",
    )

    lhs = band_keys.select("band", "bucket", F.col("id").alias("a"), F.col("sig").alias("siga"))
    rhs = band_keys.select("band", "bucket", F.col("id").alias("b"), F.col("sig").alias("sigb"))
    return (
        lhs.join(rhs, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "siga", "sigb")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH, scored by the signature
    estimate: (a, b, est_jaccard ≥ threshold)."""
    cand = minhash_lsh_candidates(
        df, id_col, text_col, n, num_hashes, bands, max_bucket_size
    )
    est = F.aggregate(
        F.zip_with("siga", "sigb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(float(num_hashes))
    return (
        cand.select("a", "b", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def minhash_lsh_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """The scale-path near-dup operator: banded-LSH candidate generation, then
    EXACT n-gram Jaccard verification of candidates only —
    ``(a, b, jaccard ≥ threshold)``.

    Verification joins each candidate pair against per-doc distinct-shingle
    ARRAYS (bounded by doc length), so its cost is O(candidates · doc size),
    never the corpus-wide quadratic sweep of ``ngram_jaccard_pairs``. False
    LSH positives are filtered exactly; false negatives follow the S-curve
    P(miss) = (1 − s^r)^bands — negligible above the threshold knee.
    """
    # ONE shingle pass feeds both the MinHash signatures and the exact
    # verification arrays (was tokenized twice); persisted because the
    # banding and the verify arm both scan it
    sh = shingles(df, id_col, text_col, n).persist()
    cand = minhash_lsh_candidates(
        df, id_col, text_col, n, num_hashes, bands, max_bucket_size, sh=sh
    ).select("a", "b")
    # shingle arrays only for docs that appear in some candidate pair
    cand_docs = (
        cand.select(F.col("a").alias("id"))
        .unionByName(cand.select(F.col("b").alias("id")))
        .distinct()
    )
    arrs = (
        sh.join(cand_docs, "id", "left_semi")
        .groupBy("id")
        .agg(F.collect_set("shingle").alias("shs"))
    )
    aa = arrs.select(F.col("id").alias("a"), F.col("shs").alias("sha_"))
    bb = arrs.select(F.col("id").alias("b"), F.col("shs").alias("shb_"))
    inter = F.size(F.array_intersect("sha_", "shb_"))
    uni = F.size("sha_") + F.size("shb_") - inter
    return (
        cand.join(aa, "a")
        .join(bb, "b")
        .select("a", "b", F.round(inter / uni, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = 48, hash: str = "xxhash64",
) -> DataFrame:
    """SimHash over word tokens: bit j set iff Σ_tokens sign_j ≥ 0, where
    sign_j = +1 if bit j of hash(token) set else −1. (id, simhash).
    bits ≤ 62 so the packed value stays a positive long under ANSI mode.

    ``hash``: 'xxhash64' (production) or 'md5' (portable — bit j comes from
    hex digit j//4 of md5(token), replicable in the DuckDB oracle; md5 is
    still a JVM builtin, just slower than xxhash64). md5 caps bits at 128.
    """
    if bits > 62:
        raise ValueError("bits must be ≤ 62")
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("t")
    )
    if hash == "xxhash64":
        h = tok.select("id", F.xxhash64("t").alias("h"))
        bit = lambda j: F.when(  # noqa: E731
            F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1
        ).otherwise(0)
    elif hash == "md5":
        hexdigits = "0123456789abcdef"
        n_digits = (bits + 3) // 4
        digits = [
            (F.instr(F.lit(hexdigits), F.substring(F.md5("t"), k + 1, 1)) - 1)
            for k in range(n_digits)
        ]
        h = tok.select("id", *[d.alias(f"d{k}") for k, d in enumerate(digits)])
        bit = lambda j: F.shiftright(F.col(f"d{j // 4}"), j % 4).bitwiseAND(  # noqa: E731
            F.lit(1)
        )
    else:
        raise ValueError(f"unknown hash {hash!r}")
    # per-bit balance as 0/1 sums vs token count: sign_j ≥ 0 ⇔ 2·Σbit_j ≥ n
    agg = h.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(bit(j)).alias(f"b{j}") for j in range(bits)],
    )
    acc = F.lit(0).cast("long")
    for j in range(bits):
        acc = acc + F.when(
            2 * F.col(f"b{j}") >= F.col("n"), F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return agg.select("id", acc.alias("simhash"))


def simhash_pairs(
    sig: DataFrame, bits: int = 48, bands: int = 8, max_hamming: int = 7,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Near-dup pairs from simhash signatures via Hamming-band LSH:
    ``(a, b, hamming ≤ max_hamming)``, a < b.

    The signature is split into ``bands`` contiguous bit-bands; docs sharing
    any band value become candidates, then the exact Hamming distance filters.
    Pigeonhole guarantee: any pair with hamming < bands differs in at most
    bands−1 bands, so at least one band matches — for ``max_hamming < bands``
    the result EXACTLY equals the all-pairs O(n²) sweep, at bucket-join cost.

    ``max_bucket_size`` drops degenerate buckets (e.g. a constant corpus
    collapsing into one band value) before the within-bucket join can go
    quadratic; dropped buckets are near-identical docs that exact dedup
    (sha256 groupBy) should have removed first.
    """
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs > {max_hamming} bands for the "
            "pigeonhole completeness guarantee"
        )
    if bits % bands != 0:
        raise ValueError("bands must divide bits")
    r = bits // bands
    mask = (1 << r) - 1
    bk = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * r)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.bucket")
    # persisted: scanned by the bucket-size agg and both self-join sides —
    # otherwise each scan recomputes the caller's full simhash pipeline.
    # The explicit REPARTITION_BY_NUM pins the self-join's parallelism: the
    # band-key table is tiny, so AQE would coalesce it to one partition and
    # the bucket join (which explodes ~|bucket|× per band) would run as a
    # single serial task (see similarity.hyperplane_banded_candidates).
    n_part = int(sig.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    bk = bk.repartition(n_part, "band", "bucket").persist()
    sizes = bk.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("bsz"))
    oversized = sizes.filter(F.col("bsz") > max_bucket_size)
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    if oversized.limit(1).count() == 0:
        # Emit-at-first-matching-band dedup (guide §2.4: removes the
        # distinct's shuffle over the exploded pair set): a pair appears in
        # one join row per matching band; keep only the row whose band is
        # the pair's FIRST match — both signatures are on the row, so the
        # check is pure bit math. Valid only while no bucket was dropped
        # (a dropped bucket could be the first match and would suppress the
        # pair a later band legitimately finds).
        lhs = bk.select("band", "bucket", F.col("id").alias("a"), F.col("simhash").alias("sa"))
        rhs = bk.select("band", "bucket", F.col("id").alias("b"), F.col("simhash").alias("sb"))

        def beq(b2: int):
            return (
                F.shiftright("sa", b2 * r).bitwiseAND(F.lit(mask))
                == F.shiftright("sb", b2 * r).bitwiseAND(F.lit(mask))
            )

        first_band = F.least(
            *[F.when(beq(b2), F.lit(b2)).otherwise(F.lit(bands)) for b2 in range(bands)]
        )
        return (
            lhs.join(rhs, ["band", "bucket"])
            .filter((F.col("a") < F.col("b")) & (first_band == F.col("band")))
            .select("a", "b", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
        )
    # degenerate-corpus fallback: drop oversized buckets, dedup by distinct
    bk = bk.join(F.broadcast(oversized), ["band", "bucket"], "left_anti")
    lhs = bk.select("band", "bucket", F.col("id").alias("a"), F.col("simhash").alias("sa"))
    rhs = bk.select("band", "bucket", F.col("id").alias("b"), F.col("simhash").alias("sb"))
    cand = (
        lhs.join(rhs, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sa", "sb")
        .distinct()
    )
    return (
        cand.select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# TF-IDF (corpus-relative term weighting)

TFIDF_TOKEN_RE = r"[a-z0-9]+"


def tfidf_top_terms(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """Per-document top-k TF-IDF terms: tokenize (lowercased letter/digit
    runs — deliberately engine-portable), tf = in-doc term count,
    idf = ln((N+1)/(df+1)) + 1 (smoothed), score = tf·idf rounded to 6 dp,
    ties broken by term ascending.

    Scale shape: tf is one (doc, term) groupBy (map-side combined); document
    frequency aggregates the tf table by term — vocabulary-sized, so the
    idf join back onto tf broadcasts; the final top-k is a per-doc window
    over k·docs rows. All JVM-side."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TFIDF_TOKEN_RE), 0)
        ).alias("term"),
    )
    # tf feeds BOTH the idf aggregation and the scoring join; without an
    # explicit persist Spark re-tokenizes the full corpus for each branch
    # (no ReusedExchange fires — the branches prune differently). Cached
    # MEMORY_AND_DISK. Deliberately NOT unpersisted here (unlike ivf_train's
    # try/finally): the RETURNED plan is lazy and reads this cache, so an
    # in-function unpersist would silently recompute both branches at the
    # caller's action. The cache is LRU-evictable and reclaimed by Spark's
    # ContextCleaner once the result DataFrame is dropped driver-side.
    tf = (
        toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")).persist()
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(id_col).distinct().count()
    # No explicit broadcast hint on dfreq: the distinct-term table scales
    # with the corpus vocabulary (typos/URLs/hashes push it to 1e8-1e9 rows
    # on a web corpus — far past the 8 GB broadcast cap). AQE broadcasts it
    # when it measures small and shuffle-joins on "term" when it doesn't;
    # both sides of that join are already term-keyed aggregates.
    scored = tf.join(dfreq, "term").select(
        F.col(id_col),
        "term",
        F.round(
            F.col("tf")
            * (F.log((n_docs + 1.0) / (F.col("df") + 1.0)) + F.lit(1.0)),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# PII scrubbing (training-corpus hygiene)

# Conservative RE2-compatible patterns (portable across Spark/Java regex and
# DuckDB/RE2 — no lookarounds), applied in dict order: emails first so an
# address's host part can't later half-match the IP pattern.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
}


def pii_scrub(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_email, n_ipv4, n_phone, clean_sha): per-class PII match counts
    on the original text plus sha256 of the text with every match replaced by
    ``<EMAIL>``/``<IPV4>``/``<PHONE>`` (fixed application order). Pure
    column math — one pass, no shuffle; the sha pins the full redacted
    content so a value-match proves the redaction byte-for-byte."""
    c = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(c, F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    clean = c
    for name, pat in PII_PATTERNS.items():
        clean = F.regexp_replace(clean, pat, f"<{name.upper()}>")
    return df.select(F.col(id_col), *counts, F.sha2(clean, 256).alias("clean_sha"))


# ---------------------------------------------------------------------------
# repetition + web-domain signals (training-corpus hygiene, Gopher/C4-style)

REPETITION_TOKEN_RE = r"[a-z0-9]+"


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Gopher-style repeated-n-gram quality signal per document:
    ``(id, n_grams, n_distinct, top_count, dup_ratio)`` over lowercase token
    n-grams (dup_ratio = 1 − distinct/total — the fraction of n-gram slots
    occupied by repeats; top_count = multiplicity of the most repeated
    n-gram). High dup_ratio marks boilerplate-looping or degenerate docs
    that poison training corpora (Rae et al. 2021 "Gopher" §A1.1 filters).

    Scale shape: one tokenize + slide (in-array, no join), one explode into
    a (doc, gram) groupBy (map-side combined), one per-doc aggregate —
    shuffles are keyed by doc/gram only; no windows, no driver loops."""
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(REPETITION_TOKEN_RE), 0
    )
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + d + 1) for d in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_gram = (
        df.select(F.col(id_col).alias("id"), F.explode(grams).alias("gram"))
        .groupBy("id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = per_gram.groupBy("id").agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_count"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .distinct()
        .join(agg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
            F.coalesce("top_count", F.lit(0)).alias("top_count"),
            F.round(
                F.lit(1.0)
                - F.coalesce("n_distinct", F.lit(0))
                / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1)).cast("double"),
                6,
            ).alias("dup_ratio"),
        )
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-unigram-LM document scoring ``(id, n_tokens, avg_neg_logp)``:
    train unigram probabilities from the corpus itself (add-one smoothed
    over the observed vocabulary), then score each document by its mean
    token negative log-probability. Low = stereotypical corpus text; high =
    rare-token-heavy outliers (gibberish, foreign-language leaks, encoding
    damage) — the cheap stand-in for model-perplexity filtering (CCNet-style
    quality buckets) that needs no external LM.

    Scale shape: one tokenize feeding (a) the vocabulary-sized unigram count
    table — broadcast back — and (b) the per-doc score aggregation; the
    corpus-total token count is one scalar agg. Same cache discipline as
    tfidf_top_terms (the persist is read by the returned lazy plan)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(REPETITION_TOKEN_RE), 0
            )
        ).alias("term"),
    ).persist()
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("n_vocab")
    ).collect()[0]
    n_total, n_vocab = int(totals["n_total"] or 0), int(totals["n_vocab"] or 0)
    denom = float(n_total + n_vocab)  # add-one smoothing over seen vocab
    # No broadcast hint: ``counts`` is vocabulary-sized (unbounded on a web
    # corpus — see tfidf_top_terms note). AQE picks broadcast vs shuffle by
    # the measured size.
    scored = toks.join(counts, "term").select(
        "id", (-F.log((F.col("c") + 1) / F.lit(denom))).alias("nlp")
    )
    agg = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("nlp"), 6).alias("avg_neg_logp"),
    )
    return (
        df.select(F.col(id_col).alias("id")).distinct()
        .join(agg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("avg_neg_logp", F.lit(0.0)).alias("avg_neg_logp"),
        )
    )


def bigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-bigram-LM document scoring ``(id, n_bigrams, avg_neg_logp)``
    — the order-sensitive upgrade of unigram_logprob: P(w2 | w1) trained on
    the corpus itself with add-one smoothing over the observed vocabulary,
    each document scored by its mean bigram negative log-probability. Word
    salad that unigram perplexity loves (common words, shuffled) scores
    high here; docs with < 2 tokens get (0, 0.0).

    Scale shape: one positional tokenize (cached) feeds (a) the bigram
    count table — |distinct bigrams| rows, bigger than the vocabulary, so
    NO broadcast hint ever (AQE decides; cf. the unigram/tfidf
    vocabulary-broadcast lesson) — (b) the unigram context counts, and
    (c) the per-doc score join. The bigram join key is the (w1, w2) pair;
    skew concentrates on stopword-stopword pairs exactly like the unigram
    case and shuffles, not broadcasts, absorb it."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(REPETITION_TOKEN_RE), 0
            )
        ).alias("pos", "term"),
    ).persist()
    nxt = toks.select(
        "id", (F.col("pos") - 1).alias("pos"), F.col("term").alias("term2")
    )
    bigrams = toks.join(nxt, ["id", "pos"]).select(
        "id", F.col("term").alias("w1"), F.col("term2").alias("w2")
    ).persist()
    c2 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    n_vocab = int(toks.select("term").distinct().count())
    scored = (
        bigrams.join(c2, ["w1", "w2"]).join(c1, "w1")
        .select(
            "id",
            (-F.log((F.col("c2") + 1) / (F.col("c1") + F.lit(n_vocab)))).alias("nlp"),
        )
    )
    agg = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nlp"), 6).alias("avg_neg_logp"),
    )
    return (
        df.select(F.col(id_col).alias("id")).distinct()
        .join(agg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("avg_neg_logp", F.lit(0.0)).alias("avg_neg_logp"),
        )
    )


URL_DOMAIN_RE = r"https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)+)"


def domain_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-domain corpus statistics ``(domain, n_docs, n_urls)`` from URLs
    embedded in document text — the first stage of web-pipeline domain
    filtering/weighting (blocklists, per-domain caps, C4's source mixing).
    Lowercased hostnames; one regexp extraction + one domain-keyed groupBy
    (map-side combined) — domain cardinality ≪ corpus, so the shuffle is
    tiny; no windows."""
    urls = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(URL_DOMAIN_RE), 1)
            ).alias("domain_raw"),
        )
        .select("id", F.lower(F.col("domain_raw")).alias("domain"))
    )
    return urls.groupBy("domain").agg(
        F.countDistinct("id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_urls"),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplicate SPANS, n-gram anchored: for every document,
    the maximal token ranges covered by word n-grams that occur ≥
    ``min_count`` times across the whole corpus (including repeats inside
    one document). Returns ``(id, span_start, span_end, n_dup_grams)`` with
    1-based inclusive token positions — the redaction/trimming unit of
    span-level dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better": duplicated substrings are removed span-wise,
    not document-wise, because boilerplate recurs INSIDE otherwise-unique
    pages). Document-level near-dup (minhash_lsh_*) cannot see these.

    Scale shape: one tokenize + in-array slide per doc (no join), one
    map-side-combined (gram → count) aggregate, one semi-join of positions
    against the duplicated-gram set, then island-merging with windows
    partitioned BY DOCUMENT (never global — per-partition work is bounded
    by a single doc's gram count). The groupBy key is the gram string;
    at corpus scale substitute ``xxhash64(gram)`` to shrink shuffle width
    (collisions only ever over-mark a span, and can be re-verified
    string-exact per bucket)."""
    from pyspark.sql import Window

    if n < 2:
        raise ValueError("duplicate_spans needs n >= 2")
    if min_count < 2:
        raise ValueError("min_count < 2 would mark every position")
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(REPETITION_TOKEN_RE), 0
    )
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + d + 1) for d in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = df.select(
        F.col(id_col).alias("id"), F.posexplode(grams).alias("p", "gram")
    ).select("id", (F.col("p") + 1).alias("start"), "gram")
    dup = (
        pos.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("gram")
    )
    hits = pos.join(dup, "gram", "left_semi").select(
        "id", "start", (F.col("start") + n - 1).alias("end")
    )
    w = Window.partitionBy("id").orderBy("start")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.select(
        "id",
        "start",
        "end",
        F.when(
            F.col("start") > F.coalesce(prev_max_end, F.lit(-1)) + 1, 1
        ).otherwise(0).alias("new_island"),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("id", "island")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select(
            F.col("id").alias(id_col), "span_start", "span_end", "n_dup_grams"
        )
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """The corpus-dedup END PRODUCT: assign every document a near-dup cluster
    and elect one representative to keep. Composition of the two scale paths
    already in the engine — banded MinHash-LSH + exact-Jaccard verify for the
    pair graph, then hash-min connected components over it — so cluster ids
    are the MIN doc id of each near-dup group and ``is_rep`` marks the kept
    doc (singletons keep themselves).

    Returns ``(id_col, cluster_id, is_rep)``, one row per input document.
    Downstream: ``filter(is_rep)`` is the deduplicated corpus; a join on
    ``cluster_id`` recovers the duplicate groups."""
    from sparkgraph.algorithms import connected_components
    from sparkgraph.graph import Graph

    pairs = minhash_lsh_neardup_pairs(
        df, id_col, text_col, n, num_hashes, bands, threshold, max_bucket_size
    ).select(F.col("a").alias("src"), F.col("b").alias("dst"))
    docs = df.select(F.col(id_col).alias("id")).distinct()
    if pairs.isEmpty():
        labeled = docs.select("id", F.col("id").alias("component"))
    else:
        labeled = connected_components(Graph(pairs)).state
    return (
        docs.join(labeled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("component", "id").alias("cluster_id"),
        )
        .withColumn("is_rep", F.col(id_col) == F.col("cluster_id"))
    )


def contamination_scores(
    df: DataFrame,
    probe: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3-style n-gram overlap check):
    for every training document, the fraction of its distinct word n-gram
    shingles that also occur anywhere in ``probe`` (the eval/benchmark
    corpus). Returns ``(id_col, n_shingles, n_hits, contamination)`` — docs
    above a threshold get dropped or flagged before training.

    Scale shape: the probe shingle set is DISTINCT'd to benchmark size
    (usually millions of shingles, ≪ corpus) and the membership test is a
    semi-join on the shingle hash — broadcastable when the benchmark is
    small, shuffle-join otherwise; the corpus side streams through once.
    Production uses longer n (13-grams); n is a parameter."""
    sh = shingles(df, id_col, text_col, n)
    psh = shingles(probe, id_col, text_col, n).select("shingle").distinct()
    tot = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hit = (
        sh.join(psh, "shingle", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return tot.join(hit, "id", "left").select(
        F.col("id").alias(id_col),
        "n_shingles",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.round(
            F.coalesce("n_hits", F.lit(0)) / F.col("n_shingles"), 6
        ).alias("contamination"),
    )


def boilerplate_strip(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = ".",
    min_docs: int = 3,
) -> DataFrame:
    """C4-style corpus-frequency boilerplate removal: split each document
    into segments on ``sep`` (sentences/lines), strip every segment that
    occurs — after trimming — in ≥ ``min_docs`` DISTINCT documents (nav
    chrome, license footers, cookie banners), and reassemble the survivors
    in original order. Returns
    ``(id_col, n_segments, n_kept, clean_sha)`` where clean_sha is the
    sha256 of the sep-rejoined surviving segments (normalized: trimmed,
    empty segments dropped) — the auditable fingerprint of the cleaned doc.

    Scale shape: one posexplode, a segment-frequency groupBy whose output is
    boilerplate-sized (≪ corpus — only segments crossing min_docs survive
    the filter) and anti-joined back, then an order-preserving per-doc
    reassembly (collect_list of (pos, seg) structs, sorted in-array — no
    window)."""
    import re as _re

    # segs feeds the boilerplate frequency, the anti-join, and the per-doc
    # totals — persisted so the corpus is tokenized ONCE, not per branch.
    # Not unpersisted in-function: the returned lazy plan reads this cache
    # (see tfidf_top_terms note); LRU-evictable, ContextCleaner-reclaimed.
    segs = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias(
                "pos", "seg_raw"
            ),
        )
        .select("id", "pos", F.trim("seg_raw").alias("seg"))
        .filter(F.col("seg") != "")
        .persist()
    )
    boiler = (
        segs.groupBy("seg")
        .agg(F.countDistinct("id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("seg")
    )
    kept = segs.join(boiler, "seg", "left_anti")
    tot = segs.groupBy("id").agg(F.count(F.lit(1)).alias("n_segments"))
    re_doc = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            sep,
        ).alias("clean_text"),
    )
    return (
        df.select(F.col(id_col).alias("id")).distinct()
        .join(tot, "id", "left")
        .join(re_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.sha2(F.coalesce("clean_text", F.lit("")), 256).alias("clean_sha"),
        )
    )


def _neardup_bucket_update(
    ids: list,
    mat,
    docs: list,
    num_hashes: int,
    threshold: float,
    max_bucket_size: int,
):
    """One bucket's state transition for ``streaming_neardup_pairs``:
    compare each arriving (doc_id, signature-vector) against the stored
    members (vectorized) AND against docs accepted earlier in this batch,
    emit pairs with agreement ≥ threshold, then append the batch's accepted
    rows with ONE vstack — not one per doc, which copied the whole bucket
    matrix per arrival — and O(1) set membership instead of a list scan.
    Returns ``(ids, mat, a_list, b_list, est_list)``. Module-level so tests
    can drive it directly (pure function of its arguments)."""
    import numpy as np

    seen = set(ids)
    new_ids: list[int] = []
    new_rows: list = []
    out_a, out_b, out_e = [], [], []

    def emit(other_id: int, doc_id: int, est: float) -> None:
        a, b = sorted((int(other_id), int(doc_id)))
        out_a.append(a)
        out_b.append(b)
        out_e.append(round(float(est), 6))

    for doc_id, v in docs:
        if len(ids):
            est = (mat == v).sum(axis=1) / float(num_hashes)
            for h in np.nonzero(est >= threshold)[0]:
                emit(ids[h], doc_id, est[h])
        for i, w in enumerate(new_rows):  # intra-batch pairs
            est_i = int((w == v).sum()) / float(num_hashes)
            if est_i >= threshold:
                emit(new_ids[i], doc_id, est_i)
        if len(ids) + len(new_rows) < max_bucket_size and doc_id not in seen:
            seen.add(doc_id)
            new_ids.append(int(doc_id))
            new_rows.append(v)
    if new_rows:
        mat = np.vstack([mat, np.asarray(new_rows, dtype=np.int64)])
        ids = list(ids) + new_ids
    return ids, mat, out_a, out_b, out_e


def streaming_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """Stateless per-row MinHash signature for STREAMING inputs: the same
    sig[i] = min over shingles of xxhash64(shingle, i) as
    ``minhash_signatures``, but computed as pure column math over the
    in-row shingle array (no shingle explode + groupBy, which a stream
    can't re-aggregate) — bit-identical signatures (pytest-pinned)."""
    toks = tokens(F.col(text_col))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )
    def _minhash(i):
        # factory, not a default-arg lambda: pyspark feeds a second lambda
        # parameter the ARRAY INDEX, which would silently replace the seed
        return lambda g: F.xxhash64(g, F.lit(i))

    sig = F.array(
        *[F.array_min(F.transform(grams, _minhash(i))) for i in range(num_hashes)]
    )
    return docs.select(F.col(id_col).alias("id"), sig.alias("sig"))


def streaming_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """STREAMING near-real-time near-dup detection: as documents arrive,
    emit ``(a, b, est_jaccard)`` pairs whose signature agreement ≥ threshold
    — including pairs whose members arrived in DIFFERENT micro-batches.

    Shape: stateless signatures (``streaming_signatures``) → explode into
    band buckets → ``applyInPandasWithState`` keyed by (band, bucket), whose
    state is the bucket's signature matrix (ids array + packed int64 blob).
    Each arriving doc is compared against the stored bucket members with one
    vectorized matmul-style agreement count, then appended; ``max_bucket_size``
    caps degenerate buckets (oldest members beyond the cap stop accruing
    comparisons). A pair found by several bands is emitted once per band —
    dedupe downstream with ``dropDuplicates(["a", "b"])`` if needed.

    This is the streaming twin of ``minhash_lsh_pairs`` (estimate-based;
    run the exact-verify join on the emitted candidates for the verified
    contract)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = streaming_signatures(docs, id_col, text_col, n, num_hashes)
    banded = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[bi * r + j] for j in range(r)]
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"), "id", "sig")

    def update(key, pdfs, state: GroupState):
        if state.exists:
            ids, blob = state.get
            ids = list(ids)
            mat = np.frombuffer(blob, dtype=np.int64).reshape(-1, num_hashes)
        else:
            ids, mat = [], np.empty((0, num_hashes), dtype=np.int64)
        docs = []
        for pdf in pdfs:
            pdf = pdf.sort_values("id")
            docs.extend(
                (int(d), np.asarray(s, dtype=np.int64))
                for d, s in zip(pdf["id"], pdf["sig"])
            )
        ids, mat, out_a, out_b, out_e = _neardup_bucket_update(
            ids, mat, docs, num_hashes, threshold, max_bucket_size
        )
        state.update((ids, mat.tobytes()))
        yield pd.DataFrame({"a": out_a, "b": out_b, "est_jaccard": out_e})

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        update,
        outputStructType="a long, b long, est_jaccard double",
        stateStructType="ids array<long>, blob binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via PREFIX FILTERING (the
    AllPairs / PPJoin family — Bayardo et al. 2007, Xiao et al. 2008):
    identical output contract to ``ngram_jaccard_pairs`` (a < b, jaccard ≥
    threshold, round 6) but candidates come only from shared PREFIX
    elements, not every shared shingle.

    Why it scales: order each document's shingle set by GLOBAL frequency
    (rarest first, shingle-string tie-break — deterministic). Two sets with
    Jaccard ≥ t must overlap in ≥ ⌈t·|s|⌉ elements, so if a set's first
    ``|s| − ⌈t·|s|⌉ + 1`` elements (its prefix) share nothing with the other
    set's prefix, the pair can be skipped — LOSSLESS, unlike MinHash
    banding. Candidate volume is Σ over PREFIX shingles of docs², and
    prefixes are dominated by RARE shingles (tiny buckets) — the frequent
    shingles that explode ``ngram_jaccard_pairs``'s join land at the back of
    the ordering and never generate candidates. Verification then computes
    the exact intersection for candidate pairs only.

    100 TB shape: one shingle-frequency agg, one window per doc (partitioned
    by id), one equi-join on prefix shingles, one verify join — all
    shuffle-keyed, no all-pairs stage. For adversarial corpora where even
    prefixes collide (near-identical boilerplate) fall back to MinHash-LSH
    (approximate) or dedup the boilerplate first."""
    from pyspark.sql import Window

    sh = shingles(df, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("gf"))
    win = Window.partitionBy("id").orderBy(F.asc("gf"), F.asc("shingle"))
    ranked = (
        sh.join(freq, "shingle")
        .select("id", "shingle", F.row_number().over(win).alias("pos"))
        .join(sizes, "id")
    )
    # prefix length |s| - ceil(t*|s|) + 1
    prefix = ranked.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select("id", "shingle")
    cand = (
        prefix.select(F.col("id").alias("a"), "shingle")
        .join(prefix.select(F.col("id").alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    inter = (
        cand.join(sh.select(F.col("id").alias("a"), "shingle"), "a")
        .join(sh.select(F.col("id").alias("b"), "shingle"), ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("id").alias("b"), F.col("sz").alias("szb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Okapi BM25 retrieval scores ``(id, score)`` of every document for a
    bag-of-terms query (the classic ranking function; Robertson & Zaragoza
    2009). idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) (Lucene's
    non-negative variant); score = Σ_t idf·tf·(k1+1)/(tf + k1·(1−b+b·len/avg)).

    100 TB shape: tokenize once; the per-term stats are FILTERED to the
    query's terms before any aggregation (a query touches |q| posting
    aggregates, not the vocabulary), so df/tf tables are |q|-bounded and the
    final join is a broadcast of |q| rows by construction — no
    vocabulary-sized table anywhere (contrast tfidf_top_terms, which is
    corpus-wide by definition). Docs matching no term score 0.0."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TFIDF_TOKEN_RE), 0)
        ).alias("term"),
    )
    lens = toks.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"] or 0.0)
    qt = toks.filter(F.col("term").isin(terms))
    tf = qt.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")  # |q| rows — bounded, safe hint
        .join(lens, "id")
        .select(
            "id",
            (
                idf
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
                )
            ).alias("s"),
        )
        .groupBy("id")
        .agg(F.round(F.sum("s"), 6).alias("score"))
    )
    return (
        df.select(F.col(id_col).alias("id")).distinct()
        .join(scored, "id", "left")
        .select("id", F.coalesce("score", F.lit(0.0)).alias("score"))
    )
