"""Deduplication operators (north-star extension): exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Scale design (this is the 100 TB story):
  * exact dedup — one shuffle on the fingerprint hash; map-side partial
    count first, so shuffle volume is #distinct fingerprints.
  * exact n-gram Jaccard — candidate pairs via a shingle equi-join. Correct
    but O(sum over shingles of group²) — the *oracle/ground-truth* path, not
    the scale path.
  * MinHash+LSH — the scale path: ONE doc-level aggregate (cut once)
    emits each doc's k min-hashes and its sorted shingle-hash set;
    banding (b bands × r rows) feeds a self-join on (band, band-hash)
    buckets. Shuffle volume is #docs × b band keys, independent of
    shingle cardinality; skewed buckets split by AQE. Candidates are
    verified with exact Jaccard — ``size(array_intersect(hs1, hs2))``
    against that same aggregate — so precision is 1. History: until r16
    verification re-joined the shingle table per candidate pair on
    (d1, d2, h) and aggregated a separate size table (100k docs /
    210k candidates: 9 s for that form, 144 s when one candidates ×
    shingles side was broadcast instead); at sf0.01 it cost 13 of
    minhash_neardup's jobs, now 8 in a plain session and 7 with
    cached tables.
  * SimHash — 64-bit signature per doc from token-hash bit votes; near-dup
    candidates join on 16-bit chunks (Hamming ≤ 3 guarantees a matching
    chunk by pigeonhole) and verify with bit_count(xor).

All signature math is JVM-side (xxhash64 / bit ops / higher-order array
functions) — no Python in the hot path.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from numaflow_spark.operators.graph import materialize
from numaflow_spark.operators.text import fingerprint_md5, tokens

# MinHash universe: permutations h_i(x) = (a_i * x + b_i) mod P over the
# (P-reduced) murmur3 shingle hash. P = 2^31-1 keeps every intermediate
# product < 2^62, inside signed-64 JVM arithmetic (no overflow under ANSI).
_MINHASH_P = (1 << 31) - 1


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct n-word shingles per document: (id, sh). The explode happens
    after tokenization; DISTINCT collapses repeats so Jaccard is set-based.

    The token array is materialized in its own projection and shingles are
    built with slice() — inlining split() into the per-element lambda makes
    Catalyst re-split the text per shingle, an O(words²)-per-doc trap
    measured at 7× slower. Distinctness is per-document and therefore
    runs row-locally (array_distinct), never as a shuffle — same move as
    shingle_hashes, same bit-identical-output guarantee."""
    toked = df.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("toks"))
    sh = F.transform(
        F.sequence(F.lit(0), F.size(F.col("toks")) - n),
        lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, n)),
    )
    return (
        toked.where(F.size(F.col("toks")) >= n)
        .select("doc", F.explode(F.array_distinct(sh)).alias("sh"))
    )


def shingle_hashes(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct per-doc shingle hashes: (doc, h long).

    The hash is taken over the n token columns directly (tokens cannot
    contain the separator, so the tuple<->string mapping is bijective and
    the distinct-set semantics match word_shingles exactly, modulo 64-bit
    collisions at ~|S|²/2⁶⁵). Distinctness is per-document, so it runs
    ROW-LOCALLY — ``array_distinct`` on the hash array inside codegen —
    and the subtree carries NO shuffle at all; the old global
    ``.distinct()`` shuffled the whole (doc, h) stream to deduplicate
    sets that never span rows. Measured at ×10 (dup_ngram_frac, min-of-2,
    bit-identical output): 5.6 → 3.0 s. This subtree is evaluated up to
    4× inside the jaccard self-join plan, so its cost multiplies."""
    toked = df.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("toks"))
    hashes = F.transform(
        F.sequence(F.lit(0), F.size(F.col("toks")) - n),
        lambda i: F.xxhash64(*[F.element_at(F.col("toks"), (i + j + 1).cast("int")) for j in range(n)]),
    )
    return (
        toked.where(F.size(F.col("toks")) >= n)
        .select("doc", F.explode(F.array_distinct(hashes)).alias("h"))
    )


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint: one hash
    shuffle; returns (fingerprint, n_docs, min_doc_id) per group — dedup =
    keep min_doc_id per fingerprint; groups with n_docs > 1 are the dups."""
    fp = df.select(F.col(id_col).alias("doc"), fingerprint_md5(F.col(text_col)).alias("fingerprint"))
    return fp.groupBy("fingerprint").agg(
        F.count("*").alias("n_docs"), F.min("doc").alias("min_doc_id")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_docs: int | None = 100_000,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via prefix filtering (AllPairs /
    PPJoin family — Bayardo, Ma & Srikant, "Scaling Up All Pairs
    Similarity Search", WWW'07): still the ground-truth oracle path, but
    no longer the naive Σ_sh |group|² self-join over every shingle.

    Prefix theorem: J(A,B) ≥ t forces overlap i ≥ ⌈t·|A|⌉ (since
    |A∩B| ≤ |B| makes |A|+|B|-i ≥ |A|), so the globally-smallest shared
    shingle hash must sit within the first |x| - ⌈t·|x|⌉ + 1 hashes of
    BOTH documents (pigeonhole on each side). Joining only those prefixes
    — ~(1-t) of the shingle volume, so ~(1-t)² ≈ 4% of the old join cost
    at t=0.8 — yields a candidate superset. A length filter
    (t·max(sz) ≤ min(sz)) prunes candidates, then verification computes
    the TRUE intersection row-locally: each doc's sorted shingle-hash
    array broadcasts as a ~|docs|-row side table and ``array_intersect``
    runs inside codegen per candidate — no pair-keyed shuffle ever
    materializes. The OUTPUT is bit-identical to the naive formulation
    (pinned by tests/test_extensions.py's randomized equivalence test).

    Measured on the r8 ×10 corpus (50k docs whose derived replica
    structure packs 112.8M shingle-sharing pairs — adversarially dense):
    naive join 146 s; prefix candidates are 8.18M (14× fewer pairs into
    aggregation) and the broadcast-intersect verification replaces a
    425M-row shuffle join, total ~20 s.

    jaccard = |A∩B| / (|A|+|B|-|A∩B|) from integer counts — bit-identical
    across engines, so no rounding is needed on the output. ``max_docs``
    gates the path because verification broadcasts the doc-set arrays
    (~0.5 KB per doc: 100k docs ≈ 50 MB executor-side) and because a
    corpus that is ONE giant near-dup class degenerates to all-pairs
    whatever the algorithm; use ``minhash_lsh_pairs`` beyond the gate.
    """
    if max_docs is not None:
        # limit-probe, not a full count: the scan stops at max_docs+1 rows
        if df.select(id_col).limit(max_docs + 1).count() > max_docs:
            raise ValueError(
                f"jaccard_pairs is the exact ground-truth path, gated to "
                f"{max_docs} docs; use minhash_lsh_pairs at scale"
            )
    # repartition(doc) = the reuse point of the shingle subtree: its
    # consumers (the prefix window, the size aggregate and the doc-set
    # aggregate behind both verification sides) are all doc-keyed, so
    # this one doc-hashed exchange feeds every one of them
    sh = shingle_hashes(df, id_col, text_col, n).repartition(F.col("doc"))
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    # Candidate filters run in float, and a double product can overshoot
    # the exact value (0.9*10 -> 9.000000000000002, ceil -> 10), which at
    # exact-boundary thresholds would SHRINK the prefix / over-tighten the
    # length filter and silently drop true pairs with J == t. Since the
    # filters only need to produce a SUPERSET (verification below is an
    # exact integer intersection), relax every comparison by EPS: the
    # worst-case double rounding error here is ~ulp(t*sz) ≈ sz·2⁻⁵² — below
    # 1e-6 for any corpus whose shingle sets fit in memory — so EPS keeps
    # every mathematically-qualifying pair while admitting at most a few
    # extra candidates for the exact verifier to discard.
    EPS = 1e-6
    # smallest-hash prefix per doc: p = sz - ceil(t*sz) + 1 witnesses
    w = Window.partitionBy("doc").orderBy("h")
    prefix = (
        sh.withColumn("rk", F.row_number().over(w))
        .join(sizes, "doc")
        .filter(
            F.col("rk")
            <= F.col("sz")
            - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(EPS))
            + 1
        )
        .select("doc", "h", "sz", "rk")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter (Xiao, Wang, Lin & Yu, WWW'08): a match at
    # prefix positions (i, j) bounds the overlap by 1 + min(szA-i, szB-j);
    # J >= t needs overlap >= ceil(t*(szA+szB)/(1+t)). Exact: a true
    # pair's FIRST shared hash (which both prefixes contain) always has
    # bound >= its true overlap, so at least one generating row survives.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.sz") + F.col("b.sz"))
        - F.lit(EPS)
    )
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .filter(
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= F.lit(threshold) * F.greatest(F.col("a.sz"), F.col("b.sz"))
            - F.lit(EPS)
        )
        .filter(
            F.lit(1)
            + F.least(
                F.col("a.sz") - F.col("a.rk"), F.col("b.sz") - F.col("b.rk")
            )
            >= alpha
        )
        .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .distinct()
    )
    # exact verification, shuffle-free: sorted per-doc hash arrays ride a
    # broadcast; array_intersect counts the true overlap in codegen.
    doc_sets = sh.groupBy("doc").agg(
        F.sort_array(F.collect_list("h")).alias("hs")
    )
    v = cand.join(
        F.broadcast(
            doc_sets.select(F.col("doc").alias("d1"), F.col("hs").alias("hs1"))
        ),
        "d1",
    ).join(
        F.broadcast(
            doc_sets.select(F.col("doc").alias("d2"), F.col("hs").alias("hs2"))
        ),
        "d2",
    )
    # bigint casts: the naive formulation emitted COUNT()-typed (bigint)
    # columns and the driver's value hash is type-sensitive
    v = v.select(
        "d1",
        "d2",
        F.size(F.array_intersect("hs1", "hs2")).cast("bigint").alias("n_common"),
        F.size("hs1").cast("bigint").alias("sz1"),
        F.size("hs2").cast("bigint").alias("sz2"),
    )
    jac = F.col("n_common") / (F.col("sz1") + F.col("sz2") - F.col("n_common"))
    return (
        v.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "n_common", "sz1", "sz2", "jaccard")
    )


def _minhash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    rnd = random.Random(seed)
    return [(rnd.randrange(1, _MINHASH_P), rnd.randrange(0, _MINHASH_P)) for _ in range(k)]


def _minhash_aggs(k: int) -> list[Column]:
    """The k permutation mins ``mh_i`` over the shingle hash ``h``, each
    built as ONE SQL expression string: h is reduced into [0, P) with pmod
    (non-negative) before the affine map. Building the same expression
    from Column objects costs ~6 py4j calls per hash — 0.37-0.45 s of pure
    driver time per plan at k=64 — for identical Catalyst expressions."""
    hp = f"pmod(h, {_MINHASH_P})"
    return [
        F.expr(f"min(({ai} * {hp} + {bi}) % {_MINHASH_P})").alias(f"mh_{i}")
        for i, (ai, bi) in enumerate(_minhash_params(k))
    ]


def band_hashes(k: int, bands: int) -> Column:
    """array<int> of the ``bands`` LSH band keys over columns mh_0..mh_{k-1}:
    band b is the murmur3 ``hash`` of its k/bands consecutive mins. One
    SQL expression string (one py4j call) for the whole array."""
    rows = k // bands
    keys = ", ".join(
        "hash(" + ", ".join(f"mh_{b * rows + r}" for r in range(rows)) + ")"
        for b in range(bands)
    )
    return F.expr(f"array({keys})")


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 3, k: int = 64,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: k columns ``mh_i``. One doc-level
    aggregation; the k permutation mins are computed as k agg expressions
    over the shingle hash (partial-aggregated map-side). Pass ``shingles``
    (from shingle_hashes) to share the scan with other stages."""
    sh = shingles if shingles is not None else shingle_hashes(df, id_col, text_col, n)
    return sh.groupBy("doc").agg(*_minhash_aggs(k))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified by exact Jaccard.

    Banding: k/bands rows per band; a pair is a candidate if any band's
    signature slice matches exactly (joined on a hash of the slice). With
    k=64, b=16, r=4 the S-curve midpoint is ~0.5, so recall at J≥0.8 is
    ≥1-(1-0.8⁴)¹⁶ ≈ 0.9998 per pair. Candidates then get exact-Jaccard
    verification, so precision is exact and the output schema matches
    ``jaccard_pairs``.

    Verification reads the SAME doc-level aggregate as the signature: one
    ``groupBy(doc)`` emits the k mins and the doc's sorted shingle-hash
    set ``hs`` and is cut once (``materialize``); a candidate's overlap
    is ``size(array_intersect(hs1, hs2))`` row-locally in codegen, with
    the set sizes from ``size(hs)``. The candidate pairs (two longs a
    row) are broadcast into the doc table for the d1 side; the d2 side
    joins the doc table on d2, a shuffle that tracks candidates × doc
    length. No (d1, d2, shingle) expansion, no separate size aggregate.
    """
    # The shingle table (docs × shingles rows) is deliberately NOT
    # materialized: A/B at 100k docs measured recompute+ReusedExchange at
    # 33s vs 78s localCheckpoint / 85s persist. Its one consumer is the
    # doc-level aggregate, which IS cut (one row per doc): banding and
    # both verification sides read it, and relying on exchange reuse for
    # them fails when the input is a cached table — InMemoryRelation
    # leaves break exchange canonical-equality, and at sf0.01 the
    # tokenize+hash exchange then ran four times, once per consumer.
    docs = materialize(
        shingle_hashes(df, id_col, text_col, n).groupBy("doc").agg(
            *_minhash_aggs(k), F.expr("sort_array(collect_list(h))").alias("hs")
        )
    )
    # one row per (doc, band): posexplode of the band hashes keeps this a
    # single pass over the signature table instead of `bands` unions
    banded = docs.select(
        F.col("doc"), F.posexplode(band_hashes(k, bands)).alias("band", "band_hash")
    )
    a, bside = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            bside,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .distinct()
    )
    # Candidate-bounded verification. The pair table (not a candidates ×
    # shingles expansion, which was measured at 100k docs / 210k
    # candidates to cost 144 s vs 9 s broadcast) is the broadcast side of
    # the d1 join; the d2 join is left to the planner.
    sets = docs.select(F.col("doc").alias("d1"), F.col("hs").alias("hs1"))
    v = sets.join(F.broadcast(candidates), "d1").join(
        docs.select(F.col("doc").alias("d2"), F.col("hs").alias("hs2")), "d2"
    )
    # bigint casts: the counting formulation emitted COUNT()-typed
    # (bigint) columns and the driver's value hash is type-sensitive
    v = v.select(
        "d1",
        "d2",
        F.size(F.array_intersect("hs1", "hs2")).cast("bigint").alias("n_common"),
        F.size("hs1").cast("bigint").alias("sz1"),
        F.size("hs2").cast("bigint").alias("sz2"),
    )
    jac = F.col("n_common") / (F.col("sz1") + F.col("sz2") - F.col("n_common"))
    return (
        v.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "n_common", "sz1", "sz2", "jaccard")
    )


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    span_words: int = 10,
) -> DataFrame:
    """Sub-document (span-level) corpus dedup — the C4/RefinedWeb
    "remove duplicated lines across the corpus" operator, at fixed
    ``span_words``-word granularity since this corpus has no line breaks.

    Every document is cut into consecutive non-overlapping word spans; a
    span occurrence survives iff it is globally unique OR its document is
    the canonical keeper (minimum doc id over all occurrences). Surviving
    spans are reassembled in position order, so exactly one copy of every
    duplicated span remains corpus-wide — the document-level dedup ops
    (exact/MinHash/SimHash) can't express this: they keep or drop whole
    docs.

    Scale shape (ADVICE r3: the span TEXT never crosses the wire): span
    occurrences are projected to (doc, pos, hs) — 24 bytes — before any
    exchange, so the global (count, keeper) aggregation AND the
    stats-verify join both move narrow rows; map-side partial agg
    collapses each partition to its distinct hashes. Surviving positions
    fold to one (doc, keep_pos[]) row per doc, and the text is rebuilt
    DOC-LOCALLY by re-slicing the original token array at the kept
    positions (re-splitting a doc is row-local CPU; shipping every span
    string through a corpus-scale join is not). Three exchanges total —
    spans→hs, kept→doc, toked⋈kept_pos on doc — each linear in corpus
    size; no self-join, no all-pairs anything. Output:
    (doc, n_spans, n_kept, text_clean).
    """
    toked = df.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("toks"))
    span_at = lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i * span_words + 1, span_words))
    spans_arr = F.transform(
        F.sequence(F.lit(0), F.floor((F.size("toks") - 1) / span_words).cast("int")),
        span_at,
    )
    # narrow projection BEFORE the shuffle: hash each span in the doc-local
    # row, ship only (doc, pos, hs)
    hashed = (
        toked.where(F.size("toks") >= 1)
        .select("doc", F.posexplode(spans_arr).alias("pos", "span"))
        .select("doc", "pos", F.xxhash64("span").alias("hs"))
    )
    # r13 wave 3 (guide §2.4): (n_occ, keeper) attach via a window over the
    # SAME hs partitioning instead of groupBy(hs) + join-back — the agg and
    # the SMJ ran on the same exchange but still paid the join machinery
    # and a second sort; the window pays one sort on one exchange. Same
    # survivor predicate, same values (count/min per hs partition).
    # Measured interleaved min-of-3 at x10: 3.93 -> 3.34 s, 6 -> 5 jobs.
    w_hs = Window.partitionBy("hs")
    kept_pos = (
        hashed.withColumn("n_occ", F.count("*").over(w_hs))
        .withColumn("keeper", F.min("doc").over(w_hs))
        .filter((F.col("n_occ") == 1) | (F.col("doc") == F.col("keeper")))
        .groupBy("doc")
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.array_sort(F.collect_list("pos")).alias("keep_pos"),
        )
    )
    # doc-local rebuild: re-slice the token array at the kept positions
    # (left join keeps docs whose every span was removed -> empty text)
    return toked.join(kept_pos, "doc", "left").select(
        "doc",
        F.when(F.size("toks") >= 1, F.floor((F.size("toks") - 1) / span_words) + 1)
        .otherwise(0)
        .cast("bigint")
        .alias("n_spans"),
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        F.coalesce(
            F.concat_ws(
                " ",
                F.transform(F.col("keep_pos"), lambda p: span_at(p)),
            ),
            F.lit(""),
        ).alias("text_clean"),
    )


# SimHash token hash: polynomial fold over codepoints, then 63 affine-mod
# bit extractors. Chosen (over xxhash64) because every piece is expressible
# identically in DuckDB SQL, so simhash_neardup gets a full value-hash oracle
# instead of a rows-only check. P_TOK keeps (acc*31 + code) < 2^35; P_BIT
# keeps (h*a + b) < 2^61 — no overflow in either engine's signed 64-bit math.
_SIMHASH_TOK_P = 1_000_000_007
_SIMHASH_TOK_INIT = 7
_SIMHASH_BIT_P = (1 << 31) - 1
_SIMHASH_BITS = 63


def _simhash_bit_params(n: int = _SIMHASH_BITS, seed: int = 101) -> list[tuple[int, int]]:
    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _SIMHASH_BIT_P), rnd.randrange(0, _SIMHASH_BIT_P))
        for _ in range(n)
    ]


def _token_poly_hash(tok: Column) -> Column:
    """(acc*31 + codepoint) % P folded over the token's characters — the
    JVM-side twin of the oracle's list_reduce (verified char-split/ascii
    semantics agree across engines, including '' -> [''] -> 217).

    r13 wave 3 (guide §1.2 per-task work): ascii() is applied inside the
    fold lambda rather than via an intermediate ``transform`` — one pass
    over the char array instead of materializing a codes array first.
    Identical operands in identical order, so values are unchanged
    (re-certified on both consumers, winnow_dups and simhash_neardup)."""
    return F.aggregate(
        F.split(tok, ""),
        F.lit(_SIMHASH_TOK_INIT).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % _SIMHASH_TOK_P,
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per doc: per-token polynomial hash, 63 affine-derived
    bit votes (±1), sign fold. Emitted as (doc, simhash long); the top bit
    stays 0 so the value is non-negative in a signed 64-bit column."""
    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    # NOTE: pre-aggregating (doc, hv) counts before the 63 vote expressions
    # was measured in-suite at sf0.1 and LOST (+1.1s): the extra shuffle
    # costs more than the saved expression work on this corpus. Votes run
    # per token occurrence, map-side partial-aggregated into one doc agg.
    # The 63 votes and the 63-term fold are SQL expression strings, one
    # py4j call each (as in _minhash_aggs): building them from Columns made
    # ~14k py4j calls per plan. Same operands, same left-deep `+`, so the
    # optimized plan and every value are unchanged.
    hashed = tok.select("doc", _token_poly_hash(F.col("tok")).alias("hv"))
    votes = [
        F.expr(
            f"sum(CASE WHEN ((hv * {a} + {b}) % {_SIMHASH_BIT_P}) % 2 = 1 "
            f"THEN 1 ELSE -1 END) AS v{i}"
        )
        for i, (a, b) in enumerate(_simhash_bit_params())
    ]
    voted = hashed.groupBy("doc").agg(*votes)
    sim = " + ".join(
        f"shiftleft(CASE WHEN v{i} > 0 THEN CAST(1 AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END, {i})"
        for i in range(_SIMHASH_BITS)
    )
    return voted.select("doc", F.expr(f"{sim} AS simhash"))


def simhash_oracle_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> str:
    """DuckDB twin of ``simhash_neardup_pairs``: identical token polynomial
    hash, identical affine bit constants, identical chunk banding + verify."""
    params = _simhash_bit_params()
    vote_cols = ",\n                   ".join(
        f"sum(CASE WHEN ((hv * {a} + {b}) % {_SIMHASH_BIT_P}) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS v{i}"
        for i, (a, b) in enumerate(params)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {i})"
        for i in range(_SIMHASH_BITS)
    )
    return f"""
        WITH tok AS (
            SELECT {id_col} AS doc, unnest(string_split({text_col}, ' ')) AS t
            FROM {table}
        ), h AS (
            SELECT doc,
                   list_reduce(
                       list_prepend(CAST({_SIMHASH_TOK_INIT} AS BIGINT),
                           list_transform(string_split(t, ''),
                                          c -> CAST(ascii(c) AS BIGINT))),
                       (acc, x) -> (acc * 31 + x) % {_SIMHASH_TOK_P}) AS hv
            FROM tok
        ), votes AS (
            SELECT doc,
                   {vote_cols}
            FROM h GROUP BY doc
        ), sig AS (
            SELECT doc, {sig_terms} AS simhash FROM votes
        ), chunks AS (
            SELECT doc, simhash, u.c AS chunk,
                   (simhash >> (u.c * 16)) & 65535 AS chunk_val
            FROM sig, unnest([0, 1, 2, 3]) u(c)
        ), cand AS (
            SELECT DISTINCT a.doc AS d1, b.doc AS d2,
                   a.simhash AS s1, b.simhash AS s2
            FROM chunks a
            JOIN chunks b ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
                         AND a.doc < b.doc
        )
        SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
        FROM cand WHERE bit_count(xor(s1, s2)) <= {max_hamming}
    """


def simhash_neardup_pairs(
    df: DataFrame, id_col: str, text_col: str, *, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup candidates: by pigeonhole, Hamming ≤ 3 over 4
    16-bit chunks forces at least one identical chunk — join on (chunk,
    chunk_val), verify with bit_count(xor).

    The 4 chunk rows per doc come from one ``posexplode`` over a chunk
    array (same single-pass shape as the MinHash banding) rather than a
    4-way union: one scan of the signature subtree, which exchange reuse
    then shares across both sides of the self-join — measured 1.5× faster
    than the union form at 5k docs, no cache pin needed."""
    sig = simhash64(df, id_col, text_col)
    chunk_arr = F.array(
        *[
            F.shiftright(F.col("simhash"), c * 16).bitwiseAND(F.lit(0xFFFF))
            for c in range(4)
        ]
    )
    banded = sig.select(
        "doc", "simhash", F.posexplode(chunk_arr).alias("chunk", "chunk_val")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("d1"),
            F.col("b.doc").alias("d2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return cand.withColumn("hamming", ham).filter(F.col("hamming") <= max_hamming).select(
        "d1", "d2", "hamming"
    )
