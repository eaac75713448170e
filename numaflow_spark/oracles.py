"""DuckDB oracle SQL for every entry in ``queries.QUERIES``.

The driver registers the parquet tables as views named ``region nation
customer supplier part orders lineitem events documents embeddings`` and
compares row-count + schema + order-insensitive value-hash at sf=0.01.

Column names and types here are kept deliberately in lock-step with
``queries.py`` (same aliases, same DECIMAL scales, same epoch-BIGINT window
bounds, same ROUND placement) — see the determinism discipline note there.
"""

ORACLES: dict[str, str] = {
    # R1 fixed keyed window — 10 min = 600 s buckets.
    "fixed_window_keyed": """
        SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
               CAST(floor(epoch(ts) / 600) * 600 + 600 AS BIGINT) AS window_end,
               event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_cents
        FROM events
        GROUP BY 1, 2, 3
    """,
    # R6 non-keyed window — 1 h buckets, single global group per window.
    "fixed_window_global": """
        SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
               CAST(floor(epoch(ts) / 3600) * 3600 + 3600 AS BIGINT) AS window_end,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_cents
        FROM events
        GROUP BY 1, 2
    """,
    # R2 sliding window — 30 min length / 10 min slide: each event is in
    # exactly 3 slide-aligned windows (sliding.rs semantics).
    "sliding_window": """
        SELECT CAST((floor(epoch(ts) / 600) - t.i) * 600 AS BIGINT) AS window_start,
               CAST((floor(epoch(ts) / 600) - t.i) * 600 + 1800 AS BIGINT) AS window_end,
               event_type,
               count(*) AS n_events
        FROM events, range(3) t(i)
        GROUP BY 1, 2, 3
    """,
    # R3 session window — 30 min gap per user. A new session starts when the
    # gap to the previous event is >= the gap duration (Spark merges while
    # next.start < prev.end). Session end = last event + gap.
    "session_window": """
        WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sessions AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS session_id
            FROM marked
        )
        SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS window_start,
               CAST(floor(epoch(max(ts) + INTERVAL 30 MINUTE)) AS BIGINT) AS window_end,
               user_id,
               count(*) AS n_events
        FROM sessions
        GROUP BY user_id, session_id
    """,
    # T2/M5 builtin filter + JSON payload projection.
    "filter_transform": """
        SELECT event_id, user_id, event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) < 50
          AND event_type <> 'error'
    """,
    # M3 flat-map fanout: one row per synthesized tag.
    "flat_map": """
        SELECT tag, count(*) AS n
        FROM (
            SELECT unnest([event_type,
                           CASE WHEN value >= 10 THEN 'high' ELSE 'low' END]) AS tag
            FROM events
        )
        GROUP BY tag
    """,
    # F1 `and`: {click,high} ⊆ tags where tags = [event_type] (+ 'high' iff value>=10).
    "route_and": """
        SELECT event_type, count(*) AS n
        FROM events
        WHERE event_type = 'click' AND value >= 10
        GROUP BY event_type
    """,
    # F1 `or`: {click,view} ∩ tags ≠ ∅.
    "route_or": """
        SELECT event_type, count(*) AS n
        FROM events
        WHERE event_type IN ('click', 'view')
        GROUP BY event_type
    """,
    # F1 `not`: {error,high} ∩ tags = ∅.
    "route_not": """
        SELECT event_type, count(*) AS n
        FROM events
        WHERE event_type <> 'error' AND NOT value >= 10
        GROUP BY event_type
    """,
    # F5 fan-in: interleaved UNION ALL of two tagged branches.
    "fan_in_union": """
        SELECT source_id, count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_cents
        FROM (
            SELECT 'input-one' AS source_id, value FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT 'input-two' AS source_id, value FROM events WHERE event_type = 'view'
        )
        GROUP BY source_id
    """,
    # F8 exact dedup surface.
    "dedup_exact": """
        SELECT event_type,
               count(DISTINCT user_id) AS n_users,
               count(*) AS n_events
        FROM events
        GROUP BY event_type
    """,
    # TPC-H Q1-style pricing summary (exact decimal arithmetic).
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_c,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_base_price_c,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    * 10000 AS BIGINT) AS sum_disc_price_c4,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    # Star join + agg: revenue per nation.
    "join_agg": """
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    * 10000 AS BIGINT) AS revenue_c4,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    # TPC-H Q10 shape: top-20 customers by returned-item revenue.
    "returned_item_revenue": """
        SELECT c_custkey, c_name, n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    * 10000 AS BIGINT) AS revenue_c4
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue_c4 DESC, c_custkey ASC
        LIMIT 20
    """,
    # TPC-H Q5 shape: revenue where customer and supplier share a nation.
    "local_supplier_volume": """
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    * 10000 AS BIGINT) AS revenue_c4,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE c_nationkey = s_nationkey
        GROUP BY n_name
    """,
    # Top-K per group with deterministic tie-break.
    "top_k": """
        SELECT o_orderpriority, CAST(rank AS INTEGER) AS rank, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS totalprice_c
        FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
            FROM orders
        )
        WHERE rank <= 3
    """,
    # Full-DAG diamond pipeline: multicast branches then fan-in window sum.
    # branch-a: or{click,view}; branch-b: and{high} (tags carry 'high' iff
    # value >= 10); events matching both conditions count twice (multicast).
    "pipeline_diamond": """
        WITH branch_a AS (
            SELECT ts, CAST(value AS DECIMAL(18,2)) AS v
            FROM events WHERE event_type IN ('click', 'view')
        ), branch_b AS (
            SELECT ts, CAST(value AS DECIMAL(18,2)) * 2 AS v
            FROM events WHERE value >= 10
        ), merged AS (
            SELECT * FROM branch_a UNION ALL SELECT * FROM branch_b
        )
        SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
               CAST(floor(epoch(ts) / 3600) * 3600 + 3600 AS BIGINT) AS window_end,
               count(*) AS n_events,
               CAST(sum(v) * 100 AS BIGINT) AS sum_value_cents
        FROM merged
        GROUP BY 1, 2
    """,
    # R4 accumulator batch twin: per-key ordered replay with sequence numbers.
    "accumulator_sort": """
        SELECT user_id,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS INTEGER) AS seq,
               event_id,
               epoch_us(ts) AS ts_us
        FROM events
    """,
    # Text quality stats (all integer-derived; stopword_ratio is int/int).
    "text_stats": """
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS w, strlen(text) AS nc FROM documents
        ), s AS (
            SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens, CAST(nc AS BIGINT) AS n_chars_m,
                   CAST(len(list_filter(w, x -> x IN ('the','a','an','of','and','is','to','in')))
                        AS INTEGER) AS n_stopwords
            FROM t
        )
        SELECT doc_id, n_tokens, n_chars_m, n_stopwords,
               n_stopwords * 1.0 / n_tokens AS stopword_ratio,
               CASE WHEN n_tokens >= 10 AND n_tokens <= 1000 AND n_stopwords * 10 >= n_tokens THEN 2
                    WHEN n_tokens >= 5 AND n_stopwords > 0 THEN 1
                    ELSE 0 END AS quality
        FROM s
    """,
    # Marker-count language ID, precedence en>de>fr>es, else 'und'.
    "lang_id": """
        WITH c AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), n AS (
            SELECT doc_id,
                   len(list_filter(w, x -> x IN ('the','a','of','and','is'))) AS en_n,
                   len(list_filter(w, x -> x IN ('der','die','das','und','ist'))) AS de_n,
                   len(list_filter(w, x -> x IN ('le','la','et','les','est'))) AS fr_n,
                   len(list_filter(w, x -> x IN ('el','los','las','y','es'))) AS es_n
            FROM c
        )
        SELECT doc_id,
               CASE WHEN en_n > 0 AND en_n >= greatest(en_n, de_n, fr_n, es_n) THEN 'en'
                    WHEN de_n > 0 AND de_n >= greatest(en_n, de_n, fr_n, es_n) THEN 'de'
                    WHEN fr_n > 0 AND fr_n >= greatest(en_n, de_n, fr_n, es_n) THEN 'fr'
                    WHEN es_n > 0 AND es_n >= greatest(en_n, de_n, fr_n, es_n) THEN 'es'
                    ELSE 'und' END AS lang_pred
        FROM n
    """,
    # Exact dedup groups by md5 fingerprint of normalized text.
    "doc_fingerprint_dups": """
        WITH fp AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                           ' +', ' ', 'g'))) AS fingerprint
            FROM documents
        )
        SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS min_doc_id
        FROM fp GROUP BY fingerprint
    """,
    # Exact 3-gram Jaccard near-dup pairs at J >= 0.8.
    "ngram_jaccard": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), shingles AS (
            SELECT DISTINCT doc_id,
                   unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                           for i in range(1, len(w) - 1)]) AS sh
            FROM toks WHERE len(w) >= 3
        ), sizes AS (
            SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
            FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT d1, d2, n_common, sa.sz AS sz1, sb.sz AS sz2,
               n_common * 1.0 / (sa.sz + sb.sz - n_common) AS jaccard
        FROM inter JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
        WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.8
    """,
    # MinHash+LSH with exact-Jaccard verification: output equals the exact
    # pair set (banding recall >= 99.97% per pair at J >= 0.8 with k=64 b=16).
    "minhash_neardup": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), shingles AS (
            SELECT DISTINCT doc_id,
                   unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                           for i in range(1, len(w) - 1)]) AS sh
            FROM toks WHERE len(w) >= 3
        ), sizes AS (
            SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
            FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT d1, d2, n_common, sa.sz AS sz1, sb.sz AS sz2,
               n_common * 1.0 / (sa.sz + sb.sz - n_common) AS jaccard
        FROM inter JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
        WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.8
    """,
    # Brute-force cosine top-5 (scores rounded to 6 before ranking; id
    # tie-break — deterministic across engines and partitionings).
    "embedding_topk": """
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 20
        ), c AS (
            SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
        ), scored AS (
            SELECT query_id, neighbor_id,
                   round(list_dot_product(qv, cv)
                         / sqrt(list_dot_product(qv, qv))
                         / sqrt(list_dot_product(cv, cv)), 6) AS cos_sim
            FROM q, c WHERE query_id <> neighbor_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
    # All pairs with cosine >= 0.4.
    "embedding_similar_pairs": """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        SELECT a.vec_id AS id1, b.vec_id AS id2,
               round(list_dot_product(a.e, b.e)
                     / sqrt(list_dot_product(a.e, a.e))
                     / sqrt(list_dot_product(b.e, b.e)), 6) AS cos_sim
        FROM v a, v b
        WHERE a.vec_id < b.vec_id
          AND round(list_dot_product(a.e, b.e)
                    / sqrt(list_dot_product(a.e, a.e))
                    / sqrt(list_dot_product(b.e, b.e)), 6) >= 0.4
    """,
    # Multimodal decode stub: features derived from payload bytes (ASCII
    # text => byte == char, so the SQL twin uses substr/ascii).
    "multimodal_decode": """
        SELECT doc_id,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               CAST(strlen(text) % 256 AS BIGINT) AS width,
               CAST((strlen(text) * 7) % 256 AS BIGINT) AS height,
               CAST(list_sum(list_transform(string_split(substr(text, 1, 64), ''),
                                            x -> ascii(x))) % 65536 AS BIGINT) AS checksum
        FROM documents
    """,
    # As-of join: latest view <= click ts per user (backward inclusive).
    "asof_join": """
        SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
               v.event_id AS prev_event_id, epoch_us(v.ts) AS prev_ts_us
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON c.user_id = v.user_id AND v.ts <= c.ts
    """,
    # Range join against a 12-band price table.
    "range_join_bands": """
        WITH bands(band, lo, hi) AS (
            SELECT i, 900.0 + i * 10.0, 900.0 + (i + 1) * 10.0 FROM range(10) t(i)
        )
        SELECT CAST(band AS INTEGER) AS band, count(*) AS n_parts,
               CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_price_c
        FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
        GROUP BY band
    """,
    # Cube over (returnflag, linestatus).
    "cube_agg": """
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    # Pivot linestatus into columns.
    "pivot_agg": """
        SELECT l_returnflag,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_linestatus = 'O')
                    * 100 AS BIGINT) AS qty_open_c,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_linestatus = 'F')
                    * 100 AS BIGINT) AS qty_filled_c
        FROM lineitem GROUP BY l_returnflag
    """,
    # Orders with no lineitems.
    "set_except": """
        SELECT o_orderkey AS orderkey FROM orders
        EXCEPT
        SELECT l_orderkey AS orderkey FROM lineitem
    """,
    # Customer keys present on both sides.
    "set_intersect": """
        SELECT c_custkey AS custkey FROM customer
        INTERSECT
        SELECT o_custkey AS custkey FROM orders
    """,
    # Exact linear-interpolation percentiles per priority.
    "percentiles": """
        SELECT o_orderpriority,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
               count(*) AS n
        FROM orders GROUP BY o_orderpriority
    """,
    # Ordered-window analytics: lag + running decimal sum per user.
    "window_running": """
        SELECT event_id, user_id,
               lag(event_id) OVER w AS prev_event_id,
               CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) * 100 AS BIGINT) AS run_sum_c
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    # Rollup over (returnflag, linestatus).
    "rollup": """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_c
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    # BPE-ish token counting — identical alternation regex in both engines
    # (plain character classes: same semantics in Java regex and RE2).
    "token_count_bpe": """
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT)
                   AS n_bpe_tokens
        FROM documents
    """,
    # Keep-latest dedup: newest ts per user, event_id tie-break.
    "dedup_keep_latest": """
        SELECT user_id, event_id,
               CAST(epoch_us(ts) AS BIGINT) AS ts_us,
               event_type
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    # Top-3 orders per customer by price.
    "rank_per_group": """
        SELECT o_custkey, o_orderkey, CAST(rnk AS INT) AS rnk,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
        FROM (
            SELECT *, row_number() OVER (PARTITION BY o_custkey
                                         ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
            FROM orders
        ) WHERE rnk <= 3
    """,
    # Frame sampling: stride-4 indices below the per-doc frame count.
    "multimodal_frames": """
        SELECT d.doc_id,
               CAST(d.n_chars % 16 + 1 AS BIGINT) AS n_frames,
               CAST(u.f AS INT) AS frame_idx
        FROM documents d,
             unnest(generate_series(0, CAST(d.n_chars % 16 AS BIGINT), 4)) u(f)
    """,
    # ivf_ann_topk runs the full IVF plan with n_probe == n_centroids
    # (probe every list == exact brute force), so its oracle is the same
    # exact top-k SQL as embedding_topk.
    "ivf_ann_topk": """
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 20
        ), c AS (
            SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
        ), scored AS (
            SELECT query_id, neighbor_id,
                   round(list_dot_product(qv, cv)
                         / sqrt(list_dot_product(qv, qv))
                         / sqrt(list_dot_product(cv, cv)), 6) AS cos_sim
            FROM q, c WHERE query_id <> neighbor_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
    # LEFT SEMI JOIN as EXISTS (TPC-H Q4 shape).
    "semi_join": """
        SELECT o_orderkey, o_orderpriority,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
    """,
    # LEFT ANTI JOIN as NOT EXISTS (TPC-H Q22 shape).
    "anti_join": """
        SELECT c_nationkey,
               count(*) AS n_custs,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS acctbal_c
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        GROUP BY c_nationkey
    """,
    # Explicit GROUPING SETS; NULL labels coalesced to 'ALL' on both sides.
    "grouping_sets": """
        SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
               COALESCE(l_linestatus, 'ALL') AS lstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS qty_c
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    # Deterministic multiplicative-hash sample (~1/64): pure integer math,
    # identical row set on any engine/partitioning.
    "hash_sample": """
        SELECT l_orderkey, l_linenumber,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
        FROM lineitem
        WHERE (l_orderkey * 2654435761 + l_linenumber * 40503) % 4294967296 < 67108864
    """,
    # Per-doc top-3 TF-IDF terms; ranked on the ROUNDED score + term
    # tie-break so ordering is engine-deterministic.
    "tfidf_topterms": """
        WITH term AS (
            SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
            FROM documents
        ), tf AS (
            SELECT doc, term, count(*) AS tf FROM term GROUP BY doc, term
        ), df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), scored AS (
            SELECT doc, term, tf, df,
                   round(tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df), 6) AS tfidf
            FROM tf JOIN df USING (term)
        )
        SELECT doc, term, CAST(rnk AS INTEGER) AS rnk, tf, df, tfidf
        FROM (
            SELECT *, row_number() OVER (PARTITION BY doc
                                         ORDER BY tfidf DESC, term ASC) AS rnk
            FROM scored
        ) WHERE rnk <= 3
    """,
    # Salted-join query: the oracle is the UNSALTED join+agg — salting must
    # be result-invariant (the dim here is the per-type count, so type_n is
    # n_events by construction).
    "salted_skew_join": """
        SELECT event_type,
               count(*) AS n_events,
               count(*) AS type_n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_cents
        FROM events
        GROUP BY event_type
    """,
    # Gopher-style quality signals: integer/rounded-ratio outputs only.
    "doc_quality_gopher": """
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        )
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                     / len(toks), 4) AS mean_word_len,
               round(1 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)
                   AS dup_word_frac,
               CAST(list_max(list_transform(toks, x -> length(x))) AS BIGINT)
                   AS max_word_len,
               CAST(len(toks) >= 50 AND len(toks) <= 100000
                    AND round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                              / len(toks), 4) >= 2
                    AND round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                              / len(toks), 4) <= 10 AS INTEGER) AS passes
        FROM t
    """,
    # Row-local digit-run scrubbing; 'g' = replace ALL matches (Spark's
    # regexp_replace default), chr(1) mirrors the \x01 length-delta trick.
    "pii_scrub": """
        SELECT event_id,
               regexp_replace(props, '[0-9][0-9]+', '<NUM>', 'g') AS scrubbed,
               CAST(length(regexp_replace(props, '[0-9][0-9]+', chr(1), 'g'))
                    - length(regexp_replace(props, '[0-9][0-9]+', '', 'g'))
                    AS BIGINT) AS n_digit_runs,
               CAST(length(regexp_replace(props, '[0-9][0-9]+', '<NUM>', 'g'))
                    AS BIGINT) AS scrubbed_len
        FROM events
    """,
    # 5-gram overlap with the src0 benchmark slice; DISTINCT shingles per
    # doc, so count(*) after the join = distinct contaminated shingles.
    "decontaminate": """
        WITH toks AS (
            SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, source,
                   array_to_string(list_slice(t, u.i, u.i + 4), ' ') AS sh
            FROM toks, unnest(range(1, len(t) - 3)) u(i)
            WHERE len(t) >= 5
        ), bench AS (
            SELECT DISTINCT sh FROM sh WHERE source = 'src0'
        )
        SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM sh s JOIN bench b USING (sh)
        WHERE s.source != 'src0'
        GROUP BY s.doc_id
    """,
    # Fraction of each doc's distinct 3-grams that occur in >1 doc.
    "dup_ngram_frac": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(list_slice(t, u.i, u.i + 2), ' ') AS sh
            FROM toks, unnest(range(1, len(t) - 1)) u(i)
            WHERE len(t) >= 3
        ), cnt AS (
            SELECT sh, count(*) AS ndocs FROM sh GROUP BY sh
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared,
               round(CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 4) AS shared_frac
        FROM sh JOIN cnt USING (sh)
        GROUP BY doc_id
    """,
    # Top-100 vocabulary with (count desc, token asc) total order.
    "vocab_topk": """
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ), cnt AS (
            SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token
        ), top AS (
            SELECT token, cnt FROM cnt ORDER BY cnt DESC, token LIMIT 100
        )
        SELECT token, cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INTEGER)
                   AS rank
        FROM top
    """,
    # Per-language keep rates via the Knuth multiplicative hash.
    "stratified_sample": """
        SELECT doc_id, lang, source
        FROM documents
        WHERE (doc_id * 2654435761) % 4294967296 <
              CASE lang WHEN 'en' THEN 2147483648
                        WHEN 'de' THEN 1073741824
                        WHEN 'fr' THEN 536870912
                        ELSE 268435456 END
    """,
    # Sequential token-budget packing: running sum per source, bin 512.
    "sequence_packing": """
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(sum(len(string_split(text, ' ')))
                        OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
               CAST(floor((sum(len(string_split(text, ' ')))
                        OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - 1) / 512.0) AS BIGINT) AS bin_id
        FROM documents
    """,
}

# lsh_ann_topk's bucket function is seeded-random hyperplanes; the oracle
# embeds the identical plane constants as SQL literals (params must match
# queries.q_lsh_ann_topk).
from numaflow_spark.operators.similarity import lsh_topk_oracle_sql as _lsh_sql

ORACLES["lsh_ann_topk"] = _lsh_sql(k=5, dim=64, n_planes=6)
# Multi-probe variant: 8 planes, Hamming-<=1 bucket probe (params must match
# queries.q_lsh_multiprobe_topk).
ORACLES["lsh_multiprobe_topk"] = _lsh_sql(k=5, dim=64, n_planes=8, probe_bits=1)

# pq_adc_topk embeds the seeded PQ codebooks as literals and mirrors the
# rounded-argmin assignment + ADC lookup sum (params must match
# queries.q_pq_adc_topk).
from numaflow_spark.operators.similarity import pq_topk_oracle_sql as _pq_sql

ORACLES["pq_adc_topk"] = _pq_sql(k=5, dim=64, m=8, n_codewords=16, seed=202)

# simhash_neardup's signature hash is a polynomial fold + affine bit
# extractors chosen to be expressible identically in DuckDB; the generator
# embeds the same seeded constants.
from numaflow_spark.operators.dedup import simhash_oracle_sql as _simhash_sql

ORACLES["simhash_neardup"] = _simhash_sql(max_hamming=3)

# The exact-Jaccard near-dup pair set (identical to the minhash_neardup
# oracle's body) exposed as a reusable CTE chain for the graph oracles.
_NEARDUP_PAIRS_CTES = """
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), shingles AS (
        SELECT DISTINCT doc_id,
               unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                       for i in range(1, len(w) - 1)]) AS sh
        FROM toks WHERE len(w) >= 3
    ), sizes AS (
        SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
        FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS MATERIALIZED (
        SELECT d1, d2
        FROM inter JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
        WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.8
    )
"""

# Connected components over an undirected pair table `pairs(d1, d2)`:
# component id = min reachable node, via MIN-LABEL PROPAGATION — each
# recursion round keeps one improving (node, best-label-so-far) row per
# reached node (GROUP BY + min over the recursive reference; the UNION
# dedup bounds total work by #distinct improving labels per node,
# ~O(V log V) on random graphs) instead of the r7 reachability closure
# (node, reachable-node) whose working set is QUADRATIC in component size
# — the exact pathology that made the sf1 embedding oracles unfinishable
# on the derived corpus's noise giant-component (r10 fix: a 60k-node /
# 130k-edge giant component resolves in 1.8 s; the closure form never
# finished). Both forms compute the same fixpoint (exact CC; the Spark
# side's large-star/small-star agrees).
# `und` MUST be MATERIALIZED: DuckDB inlines plain CTEs into the recursive
# loop, so every iteration re-ran the entire upstream candidate-pair chain
# (the banded-LSH scan included) — measured 47.9s -> 2.5s at sf0.1 for
# embedding_clusters from this one keyword.
_CC_CTES = """
    und AS MATERIALIZED (
        SELECT d1 AS a, d2 AS b FROM pairs
        UNION ALL
        SELECT d2, d1 FROM pairs
    ), lbl(n, r) AS (
        SELECT a, least(a, min(b)) FROM und GROUP BY a
        UNION
        SELECT u.b, min(lbl.r) FROM lbl JOIN und u ON lbl.n = u.a
        GROUP BY u.b
    ), comp AS (
        SELECT n AS node, min(r) AS component FROM lbl GROUP BY n
    )
"""

ORACLES["neardup_clusters"] = f"""
    WITH RECURSIVE {_NEARDUP_PAIRS_CTES}, {_CC_CTES}
    SELECT node AS doc_id, component AS cluster_id FROM comp
"""

ORACLES["neardup_survivors"] = f"""
    WITH RECURSIVE {_NEARDUP_PAIRS_CTES}, {_CC_CTES}
    SELECT d.doc_id, d.lang, d.source
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    WHERE c.node IS NULL OR c.component = d.doc_id
"""

# Embedding-space clustering over the banded-LSH candidate pair graph
# (identical seeded hyperplane constants to queries.q_embedding_clusters;
# exact-cosine verify of candidates, rounded to 6 before thresholding).
from numaflow_spark.operators.similarity import lsh_pairs_cte_sql as _lsh_pairs_cte

ORACLES["embedding_clusters"] = f"""
    WITH RECURSIVE {_lsh_pairs_cte(threshold=0.4, n_planes=4, n_bands=24)}, {_CC_CTES}
    SELECT node AS vec_id, component AS cluster_id FROM comp
"""

ORACLES["embedding_dedup_survivors"] = f"""
    WITH RECURSIVE {_lsh_pairs_cte(threshold=0.4, n_planes=4, n_bands=24)}, {_CC_CTES}
    SELECT e.vec_id
    FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node
    WHERE c.node IS NULL OR c.component = e.vec_id
"""

# Mixture rebalance: feasible total saturates the scarcest language; the
# accept test is all-BIGINT so both engines keep the identical rows.
ORACLES["domain_mix_sample"] = """
    WITH counts AS (
        SELECT lang, count(*) AS n_l,
               CASE lang WHEN 'en' THEN 40 ELSE 15 END AS w
        FROM documents GROUP BY lang
    ), t AS (SELECT min(n_l * 100 // w) AS t FROM counts)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN counts c USING (lang), t
    WHERE ((d.doc_id * 1103515245 + 12345) % 1048576) * c.n_l * 100
          < 1048576 * c.w * t.t
"""

# Histogram-exact per-source lower-25th-percentile gate on token count.
ORACLES["quality_quantile_filter"] = """
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS v
        FROM documents
    ), hist AS (
        SELECT source, v, count(*) AS c FROM t GROUP BY 1, 2
    ), cum AS (
        SELECT source, v,
               sum(c) OVER (PARTITION BY source ORDER BY v) AS cum
        FROM hist
    ), tot AS (
        SELECT source, sum(c) AS n_s FROM hist GROUP BY source
    ), thr AS (
        SELECT source, min(v) AS q25
        FROM cum JOIN tot USING (source)
        WHERE cum * 4 >= n_s GROUP BY source
    )
    SELECT t.doc_id, t.source, t.v AS n_tokens
    FROM t JOIN thr USING (source)
    WHERE t.v >= thr.q25
"""

# BM25 (k1=1.2, b=0.75) for terms {join, vector, stream}, top 10.
ORACLES["bm25_rank"] = """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ), dl AS (
        SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ), tf AS (
        SELECT doc_id, t, count(*) AS tf
        FROM toks WHERE t IN ('join', 'vector', 'stream')
        GROUP BY 1, 2
    ), dfreq AS (
        SELECT t, count(DISTINCT doc_id) AS df_t FROM tf GROUP BY t
    ), scored AS (
        SELECT tf.doc_id,
               round(sum(
                   ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                   * tf * 2.2
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
               ), 6) AS bm25
        FROM tf JOIN dfreq USING (t) JOIN dl USING (doc_id), stats
        GROUP BY tf.doc_id
    )
    SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10
"""

# Ordered-event funnel: stage survivors chained by per-user minima.
ORACLES["funnel_conversion"] = """
    WITH v AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
    )
    SELECT 'view' AS stage, count(*) AS n_users FROM v
    UNION ALL SELECT 'click', count(*) FROM c
    UNION ALL SELECT 'purchase', count(*) FROM p
"""

# Cohort retention triangle on integer micros-epoch week bins.
ORACLES["cohort_retention"] = """
    WITH ev AS (
        SELECT user_id, (epoch_us(ts) // 86400000000) // 7 AS w FROM events
    ), first AS (
        SELECT user_id, min(w) AS w0 FROM ev GROUP BY user_id
    )
    SELECT w0 AS cohort_week, w - w0 AS week_offset,
           count(DISTINCT user_id) AS n_users
    FROM ev JOIN first USING (user_id)
    GROUP BY 1, 2
"""

# Engine-native JSON scalar surface over the props payload column.
ORACLES["json_props_agg"] = """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
"""

# TPC-H Q3-shaped top-10 undelivered orders by revenue (SQL-façade query;
# same exact-decimal discipline as pricing_summary).
ORACLES["sql_shipping_priority"] = """
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2))
                       - CAST(l_discount AS DECIMAL(18,2))))
                * 10000 AS BIGINT) AS revenue_c4,
           CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT) AS odate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue_c4 DESC, l_orderkey
    LIMIT 10
"""

# winnow_dups' fingerprint construction (token polynomial hash -> rolling
# k-gram hash -> window-min selection) is chosen to be expressible
# identically in DuckDB; the generator embeds the same constants.
from numaflow_spark.operators.winnow import winnow_oracle_sql as _winnow_sql

ORACLES["winnow_dups"] = _winnow_sql(k=3, w=4)

# Scalar uint8 embedding quantization: per-dim min/max -> affine codes.
# Identical IEEE-double expression order on both sides; outputs are integer
# code summaries so no float ever reaches the hash layer.
ORACLES["embedding_quantize"] = """
    WITH e AS (
        SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
        FROM embeddings
    ), dims AS (
        SELECT t.i AS i, min(e[t.i]) AS mn, max(e[t.i]) AS mx
        FROM e, range(1, 65) t(i) GROUP BY t.i
    ), packed AS (
        SELECT list(mn ORDER BY i) AS mnl, list(mx ORDER BY i) AS mxl FROM dims
    ), q AS (
        SELECT vec_id,
               [CASE WHEN mxl[i] = mnl[i] THEN CAST(0 AS BIGINT)
                     ELSE CAST(floor((e[i] - mnl[i]) * 255 / (mxl[i] - mnl[i])
                                     + 0.5) AS BIGINT) END
                for i in range(1, 65)] AS q
        FROM e, packed
    )
    SELECT vec_id,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           CAST(list_max(q) AS BIGINT) AS q_max,
           CAST(len(list_filter(q, x -> x > 0)) AS BIGINT) AS q_nz
    FROM q
"""

# Deterministic training order: same Knuth multiplicative hashes as the
# sampling oracles; % and pmod agree on the non-negative domain.
ORACLES["train_shard_order"] = """
    SELECT doc_id,
           CAST((doc_id * 2654435761 + 11) % 4294967296 % 16 AS BIGINT) AS shard,
           CAST((doc_id * 40503 + 7) % 4294967296 AS BIGINT) AS okey
    FROM documents
"""

# Sub-document span dedup: the Spark side groups on xxhash64(span) to keep
# the shuffle 16 bytes wide; the oracle groups on the span text itself —
# equivalent up to 64-bit hash collisions (~|spans|²/2⁶⁵, the same accepted
# margin as the shingle-hash paths). DuckDB list slicing is 1-based
# inclusive, matching Spark's slice(arr, start, length).
ORACLES["span_dedup"] = """
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), spans AS (
        SELECT doc_id, u.i AS pos,
               array_to_string(toks[(u.i*10+1):(u.i*10+10)], ' ') AS span
        FROM tok,
             unnest(generate_series(0, CAST(floor((len(toks)-1)/10) AS BIGINT))) u(i)
    ), stats AS (
        SELECT span, count(*) AS n_occ, min(doc_id) AS keeper
        FROM spans GROUP BY span
    ), kept AS (
        SELECT s.doc_id, s.pos, s.span
        FROM spans s JOIN stats t USING (span)
        WHERE t.n_occ = 1 OR s.doc_id = t.keeper
    ), rebuilt AS (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(span, ' ' ORDER BY pos) AS text_clean
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(floor((len(t.toks)-1)/10) + 1 AS BIGINT) AS n_spans,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.text_clean, '') AS text_clean
    FROM tok t LEFT JOIN rebuilt r USING (doc_id)
"""

# Add-one-smoothed bigram LM scores. Integer '/' is true division (DOUBLE)
# in DuckDB, matching the Spark side's explicit double cast; ln/avg rounded
# to 6 absorbs the ulp-level libm differences (same discipline as bm25).
ORACLES["ngram_lm_score"] = """
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), uni AS (
        SELECT w, count(*) AS c1 FROM (
            SELECT unnest(toks) AS w FROM tok
        ) GROUP BY w
    ), vocab AS (
        SELECT count(*) AS v FROM uni
    ), bi_occ AS (
        SELECT doc_id, toks[CAST(u.i AS BIGINT)] AS w1,
               toks[CAST(u.i + 1 AS BIGINT)] AS w2
        FROM tok, unnest(generate_series(1, len(toks) - 1)) u(i)
        WHERE len(toks) >= 2
    ), bi AS (
        SELECT w1, w2, count(*) AS c2 FROM bi_occ GROUP BY w1, w2
    )
    SELECT o.doc_id,
           count(*) AS n_bigrams,
           round(avg(ln((b.c2 + 1) / (u.c1 + vocab.v))), 6) AS avg_logp
    FROM bi_occ o
    JOIN bi b ON b.w1 = o.w1 AND b.w2 = o.w2
    JOIN uni u ON u.w = o.w1, vocab
    GROUP BY o.doc_id
"""

# First BPE merge iteration: vocabulary aggregated before the pair explode
# on both sides; (cnt desc, pair) is a total order (pair is unique), so the
# top-50 cut is deterministic.
ORACLES["bpe_pair_counts"] = """
    WITH vocab AS (
        SELECT tok, count(*) AS n_occ FROM (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        ) GROUP BY tok HAVING length(tok) >= 2
    ), pairs AS (
        SELECT substr(tok, CAST(u.i AS INTEGER), 2) AS pair, n_occ
        FROM vocab, unnest(generate_series(1, length(tok) - 1)) u(i)
    ), cnt AS (
        SELECT pair, CAST(sum(n_occ) AS BIGINT) AS cnt FROM pairs GROUP BY pair
    )
    SELECT pair, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INTEGER) AS rank
    FROM cnt ORDER BY cnt DESC, pair LIMIT 50
"""

# PCM window features over the text bytes (ascii-safe corpus: byte ==
# codepoint). All-integer outputs — energy is an exact int64 sum of squares,
# zero-cross counts sign changes around the unsigned-PCM midpoint 128.
ORACLES["audio_pcm_energy"] = """
    WITH chars AS (
        SELECT doc_id, u.i AS i,
               CAST(ascii(substr(text, CAST(u.i AS INTEGER), 1)) AS BIGINT) AS code
        FROM documents, unnest(generate_series(1, length(text))) u(i)
    ), flagged AS (
        SELECT doc_id, i, code,
               CASE WHEN i = 1 THEN 0
                    WHEN (code >= 128) <> (lag(code) OVER (PARTITION BY doc_id ORDER BY i) >= 128)
                    THEN 1 ELSE 0 END AS zc
        FROM chars
    )
    SELECT doc_id,
           CAST((i - 1) // 100 AS INTEGER) AS win,
           count(*) AS n_samples,
           CAST(sum(code * code) AS BIGINT) AS energy,
           CAST(sum(zc) AS BIGINT) AS n_zero_cross
    FROM flagged
    GROUP BY doc_id, ((i - 1) // 100)
"""

# ---------------------------------------------------------------------------
# Appended post-freeze (r5): TPC-H Q4/Q6/Q14/Q16 shapes + embedding
# centroids. Same determinism discipline: integer cents / micro sums,
# ratios rounded off exact integer numerators.
# ---------------------------------------------------------------------------

ORACLES["priority_pending_orders"] = """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
    )
    GROUP BY o_orderpriority
"""

ORACLES["forecast_revenue"] = """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT) AS revenue_c4,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.02 AND l_discount <= 0.04
      AND l_quantity < 24
"""

ORACLES["promo_revenue_monthly"] = """
    WITH j AS (
        SELECT month(l_shipdate) AS month, p_type,
               CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS dp
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
    ), agg AS (
        SELECT month,
               CAST(sum(CASE WHEN p_type = 'PROMO' THEN dp ELSE CAST(0 AS DECIMAL(18,2)) END)
                    * 10000 AS BIGINT) AS promo_c4,
               CAST(sum(dp) * 10000 AS BIGINT) AS total_c4
        FROM j GROUP BY month
    )
    SELECT month, promo_c4, total_c4,
           round(CAST(promo_c4 AS DOUBLE) / CAST(total_c4 AS DOUBLE) * 100, 4) AS promo_pct
    FROM agg
"""

ORACLES["brand_supplier_counts"] = """
    SELECT p_brand, p_size,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand, p_size
"""

ORACLES["label_centroids"] = """
    SELECT label, pos AS dim, count(*) AS n,
           CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_micro
    FROM (
        SELECT label, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    )
    GROUP BY label, pos
"""
ORACLES["large_order_customers"] = """
    WITH big AS (
        SELECT l_orderkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_c
        FROM lineitem GROUP BY l_orderkey
        HAVING sum_qty_c > 300 * 100
    )
    SELECT c_custkey, c_name, o_orderkey,
           CAST(epoch(o_orderdate) AS BIGINT) AS orderdate_epoch,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS totalprice_c,
           sum_qty_c
    FROM orders
    JOIN big ON o_orderkey = big.l_orderkey
    JOIN customer ON o_custkey = c_custkey
"""

ORACLES["top_revenue_supplier"] = """
    WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    * 10000 AS BIGINT) AS revenue_c4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, revenue_c4
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE revenue_c4 = (SELECT max(revenue_c4) FROM rev)
"""

ORACLES["idle_customer_balance"] = """
    SELECT c_nationkey, count(*) AS n_custs,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_bal_c
    FROM customer
    WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
            * (SELECT count(*) FROM customer WHERE c_acctbal > 0)
          > (SELECT sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
             FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01'
      )
    GROUP BY c_nationkey
"""

ORACLES["nation_market_share"] = """
    WITH j AS (
        SELECT year(o_orderdate) AS o_year, sn.n_name AS supp_nation,
               CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS dp
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region   ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'ASIA'
    ), agg AS (
        SELECT o_year,
               CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN dp
                             ELSE CAST(0 AS DECIMAL(18,2)) END) * 10000 AS BIGINT) AS nation_c4,
               CAST(sum(dp) * 10000 AS BIGINT) AS total_c4
        FROM j GROUP BY o_year
    )
    SELECT o_year, nation_c4, total_c4,
           round(CAST(nation_c4 AS DOUBLE) / CAST(total_c4 AS DOUBLE) * 100, 4) AS mkt_share_pct
    FROM agg
"""

ORACLES["corpus_curation"] = """
    WITH corpus AS (
        SELECT doc_id, text, lang, source FROM documents WHERE source != 'src0'
    ), fp AS (
        SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                       ' +', ' ', 'g'))) AS f
        FROM corpus
    ), keep AS (
        SELECT min(doc_id) AS doc_id FROM fp GROUP BY f
    ), dedup AS (
        SELECT c.* FROM corpus c JOIN keep USING (doc_id)
    ), qual AS (
        SELECT doc_id, text, lang, source, CAST(len(toks) AS BIGINT) AS n_words
        FROM (SELECT *, string_split(text, ' ') AS toks FROM dedup)
        WHERE len(toks) >= 50 AND len(toks) <= 100000
          AND round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                    / len(toks), 4) >= 2
          AND round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                    / len(toks), 4) <= 10
    ), bench AS (
        SELECT DISTINCT array_to_string(list_slice(t, u.i, u.i + 4), ' ') AS sh
        FROM (SELECT string_split(text, ' ') AS t FROM documents WHERE source = 'src0') b,
             unnest(range(1, len(t) - 3)) u(i)
        WHERE len(t) >= 5
    ), qsh AS (
        SELECT DISTINCT doc_id, array_to_string(list_slice(t, u.i, u.i + 4), ' ') AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM qual) x,
             unnest(range(1, len(t) - 3)) u(i)
        WHERE len(t) >= 5
    ), flagged AS (
        SELECT DISTINCT doc_id FROM qsh JOIN bench USING (sh)
    )
    SELECT doc_id, lang, source, n_words
    FROM qual
    WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
      AND (doc_id * 2654435761) % 4294967296 <
          CASE lang WHEN 'en' THEN 2147483648
                    WHEN 'de' THEN 1073741824
                    WHEN 'fr' THEN 536870912
                    ELSE 268435456 END
"""

ORACLES["customer_order_distribution"] = """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT OUTER JOIN orders ON c_custkey = o_custkey
                               AND o_orderpriority NOT LIKE '1%'
        GROUP BY c_custkey
    )
    GROUP BY c_count
"""

ORACLES["small_quantity_revenue"] = """
    WITH stats AS (
        SELECT l_partkey, count(*) AS n_li,
               sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS sum_qty_c
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS revenue_c,
           count(*) AS n_items
    FROM lineitem JOIN stats USING (l_partkey)
    WHERE CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) * 5 * n_li
          < sum_qty_c * 2
"""

ORACLES["volume_shipping"] = """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                * 10000 AS BIGINT) AS revenue_c4,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""

ORACLES["discounted_brand_revenue"] = """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                * 10000 AS BIGINT) AS revenue_c4,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 20 AND l_quantity <= 30)
"""

# hll_distinct: identical fixed-hash HLL register math in DuckDB (see
# operators/sketch.py::hll_oracle_sql — integer-scaled harmonic sum, same
# linear-counting branch).
from numaflow_spark.operators.sketch import hll_oracle_sql as _hll_sql

ORACLES["hll_distinct"] = (
    "SELECT * FROM (" + _hll_sql("events", "event_id", "event_id") + ")"
    " UNION ALL SELECT * FROM (" + _hll_sql("events", "user_id", "user_id") + ")"
)

ORACLES["min_cost_supplier"] = """
    WITH euro_supp AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    cost AS (
        SELECT l_partkey, l_suppkey,
               min(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                   AS cost_c
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    euro_cost AS (
        SELECT c.*, s.s_name, s.s_acctbal, s.n_name, p.p_partkey, p.p_brand
        FROM cost c
        JOIN euro_supp s ON c.l_suppkey = s.s_suppkey
        JOIN part p ON c.l_partkey = p.p_partkey
        WHERE p.p_type = 'ECONOMY' AND p.p_size <= 10
    ),
    min_cost AS (
        SELECT p_partkey, min(cost_c) AS min_cost_c
        FROM euro_cost GROUP BY p_partkey
    )
    SELECT CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS s_acctbal_c,
           s_name, n_name, ec.p_partkey, p_brand, cost_c
    FROM euro_cost ec JOIN min_cost mc
      ON ec.p_partkey = mc.p_partkey AND ec.cost_c = mc.min_cost_c
"""

ORACLES["product_type_profit"] = """
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
               - CAST(l_quantity AS BIGINT)
                 * CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 * CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
              ) AS BIGINT) AS profit_c4,
           count(*) AS n_items
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
"""

ORACLES["important_part_value"] = """
    WITH euro_li AS (
        SELECT l_partkey,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS ext_c
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    per_part AS (
        SELECT l_partkey AS p_partkey, CAST(sum(ext_c) AS BIGINT) AS value_c
        FROM euro_li GROUP BY l_partkey
    )
    SELECT p_partkey, value_c
    FROM per_part
    WHERE value_c * 1000 > (SELECT sum(value_c) FROM per_part)
"""

ORACLES["late_shipment_modes"] = """
    SELECT CASE WHEN datediff('day', CAST(o_orderdate AS DATE),
                              CAST(l_shipdate AS DATE)) <= 30 THEN 'FAST'
                WHEN datediff('day', CAST(o_orderdate AS DATE),
                              CAST(l_shipdate AS DATE)) <= 90 THEN 'NORMAL'
                ELSE 'SLOW' END AS ship_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
"""

ORACLES["excess_shipment_supplier"] = """
    WITH per_sp AS (
        SELECT l_suppkey,
               sum(CAST(l_quantity AS BIGINT)) AS qty_total,
               sum(CASE WHEN year(l_shipdate) = 1997
                        THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS qty_1997
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        GROUP BY l_suppkey, l_partkey
    )
    SELECT s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND s_suppkey IN (SELECT l_suppkey FROM per_sp WHERE qty_1997 * 2 > qty_total)
"""

ORACLES["waiting_supplier"] = """
    WITH li_f AS (
        SELECT l_orderkey, l_suppkey,
               CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE)
                   + INTERVAL 60 DAY AS is_late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
    ),
    per_order AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late
        FROM li_f GROUP BY l_orderkey
    ),
    late_sup AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM li_f WHERE is_late
    )
    SELECT s_name, count(*) AS numwait
    FROM late_sup
    JOIN per_order USING (l_orderkey)
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE n_supp > 1 AND n_late = 1
    GROUP BY s_name
"""

# cms_heavy_bigrams: the CMS prefilter provably keeps every true heavy
# hitter (estimates only overestimate) and the exact verify removes the
# rest, so the oracle is the plain exact GROUP BY / HAVING the sketch
# accelerates — no sketch replication needed.
ORACLES["cms_heavy_bigrams"] = """
    WITH t AS (
        SELECT string_split(text, ' ') AS a FROM documents
    ),
    b AS (
        SELECT a[i] || ' ' || a[i+1] AS bigram
        FROM t, unnest(range(1, len(a))) u(i)
        WHERE len(a) >= 2
    ),
    c AS (
        SELECT bigram, count(*) AS cnt FROM b GROUP BY bigram
    )
    SELECT bigram, cnt
    FROM c
    WHERE cnt * 700 >= (SELECT sum(cnt) FROM c)
"""

ORACLES["scd2_history"] = """
    WITH ch AS (
        SELECT user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS eff_from_s, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT user_id, event_type, eff_from_s,
           coalesce(lead(eff_from_s) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) - 1,
                    9999999999) AS eff_to_s
    FROM ch
    WHERE prev_type IS NULL OR prev_type != event_type
"""

# The hash mirrors the query's 16-bit-limb decomposition exactly (see
# q_uniform_k_sample): a naive doc_id * 2654435761 overflows checked BIGINT
# arithmetic for doc_id above ~3.47e9.
ORACLES["uniform_k_sample"] = """
    SELECT doc_id, lang,
           (((((doc_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536
             + ((doc_id % 4294967296) % 65536) * 2654435761) % 4294967296 AS h
    FROM documents
    ORDER BY h, doc_id
    LIMIT 200
"""

# pagerank_bipartite: the 5 iterations unroll to a CTE chain; every rank
# is a scale-1e9 BIGINT and every division is integer floor division, so
# the iterative fixpoint prefix is bit-exact across engines.
def _pagerank_sql() -> str:
    scale = 1_000_000_000
    base = f"(15 * CAST({scale} AS BIGINT) // 100)"
    sql = f"""
    WITH pairs AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges0 AS (
        SELECT cust AS src, -supp AS dst FROM pairs
        UNION ALL
        SELECT -supp AS src, cust AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges0 GROUP BY src),
    edges AS (SELECT e.src, e.dst, d.deg FROM edges0 e JOIN deg d USING (src)),
    nn AS (SELECT count(DISTINCT src) AS n FROM edges0),
    r0 AS (
        SELECT src AS node, n, CAST({scale} AS BIGINT) // n AS rank
        FROM (SELECT DISTINCT src FROM edges0), nn
    )"""
    prev = "r0"
    for k in range(1, 6):
        sql += f""",
    it{k} AS (
        SELECT dst AS node, max(n) AS n,
               CAST({base} // max(n)
                    + (85 * sum(rank // deg)) // 100 AS BIGINT) AS rank
        FROM edges JOIN {prev} ON src = node
        GROUP BY dst
    )"""
        prev = f"it{k}"
    sql += f"""
    SELECT node, rank AS rank_e9 FROM {prev}
    """
    return sql


ORACLES["pagerank_bipartite"] = _pagerank_sql()

# ---------------------------------------------------------------------------
# Commerce and corpus analytics twins. bpe_merges is deliberately absent:
# rows-only (no tractable SQL twin for the iterative argmax + array-fold loop).
# ---------------------------------------------------------------------------


ORACLES["hourly_channel_matrix"] = """
    SELECT
      CAST(sum(CASE WHEN hour(ts) >= 0  AND hour(ts) < 6  AND event_type = 'view'  THEN 1 ELSE 0 END) AS BIGINT) AS night_views,
      CAST(sum(CASE WHEN hour(ts) >= 6  AND hour(ts) < 12 AND event_type = 'view'  THEN 1 ELSE 0 END) AS BIGINT) AS morning_views,
      CAST(sum(CASE WHEN hour(ts) >= 12 AND hour(ts) < 18 AND event_type = 'view'  THEN 1 ELSE 0 END) AS BIGINT) AS afternoon_views,
      CAST(sum(CASE WHEN hour(ts) >= 18 AND hour(ts) < 24 AND event_type = 'view'  THEN 1 ELSE 0 END) AS BIGINT) AS evening_views,
      CAST(sum(CASE WHEN hour(ts) >= 0  AND hour(ts) < 6  AND event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS night_clicks,
      CAST(sum(CASE WHEN hour(ts) >= 6  AND hour(ts) < 12 AND event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS morning_clicks,
      CAST(sum(CASE WHEN hour(ts) >= 12 AND hour(ts) < 18 AND event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS afternoon_clicks,
      CAST(sum(CASE WHEN hour(ts) >= 18 AND hour(ts) < 24 AND event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS evening_clicks
    FROM events
"""

ORACLES["basket_pairs"] = """
    WITH pairs AS (
        SELECT DISTINCT a.l_orderkey, a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    counts AS (
        SELECT p1, p2, count(*) AS n_orders FROM pairs GROUP BY p1, p2
    )
    SELECT p1, p2, n_orders FROM counts
    WHERE n_orders >= 2
    ORDER BY n_orders DESC, p1, p2
    LIMIT 50
"""

ORACLES["revenue_rolling_30d"] = """
    WITH daily AS (
        SELECT n_name AS nation,
               datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS day_no,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS day_rev_c
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY n_name, datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE))
    )
    SELECT nation, day_no, day_rev_c,
           CAST(sum(day_rev_c) OVER (PARTITION BY nation ORDER BY day_no
                                RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS rev_30d_c
    FROM daily
"""

ORACLES["clv_deciles"] = """
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS ltv_c
        FROM orders GROUP BY o_custkey
    ),
    tiled AS (
        SELECT ltv_c, ntile(10) OVER (ORDER BY ltv_c DESC, o_custkey) AS decile
        FROM per_cust
    )
    SELECT decile, count(*) AS n_customers,
           CAST(sum(ltv_c) AS BIGINT) AS decile_rev_c
    FROM tiled GROUP BY decile
"""

ORACLES["cdc_orders_apply"] = """
    WITH snapshot AS (
        SELECT c_custkey, c_name,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c
        FROM customer
    ),
    latest AS (
        SELECT o_custkey AS c_custkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c,
               row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        FROM orders
    )
    SELECT s.c_custkey, s.c_name, l.bal_c
    FROM snapshot s JOIN (SELECT * FROM latest WHERE rn = 1) l USING (c_custkey)
    UNION ALL
    SELECT s.c_custkey, s.c_name, s.bal_c
    FROM snapshot s
    WHERE s.c_custkey NOT IN (SELECT c_custkey FROM latest)
"""

# grouped_hll_users: identical per-group register math in DuckDB
from numaflow_spark.operators.sketch import hll_oracle_sql_by as _hll_by_sql

ORACLES["grouped_hll_users"] = _hll_by_sql(
    "events", ["event_type"], "user_id"
)

# Same collapse-to-distinct structure as the operator (r6): the pair
# search runs over DISTINCT names (levenshtein is text-only), dist-0 id
# pairs come straight from equal names, cross-name pairs expand through
# the per-name id lists. Equivalent to the naive
# `part a JOIN part b ON a.p_partkey < b.p_partkey WHERE lev <= 2`
# cross join, but 64 distinct names at sf0.1 instead of 20k rows: the
# brute-force form took DuckDB 75s at sf0.1 and dominated oracle-side
# verification walls.
# Candidate generation is PassJoin-style segment blocking (Li, Deng &
# Feng, VLDB'11), not a cross join: split every name into 3 contiguous
# segments; any pair within edit distance 2 must contain at least one of
# the shorter side's segments EXACTLY, shifted by at most 2 positions
# (pigeonhole: 2 edits touch <= 2 segments; indels shift later segments by
# <= 2). The r9 brute-force formulation was quadratic in |distinct names|
# — the one oracle that could not run at x10 (2e10 levenshtein calls);
# this exact-and-exhaustive blocking is near-linear in names + candidates
# and returns the identical pair set (re-verified at sf0.001/0.01/0.1).
ORACLES["editdist_part_names"] = """
    WITH names AS MATERIALIZED (SELECT DISTINCT p_name AS nm FROM part),
    lens AS (SELECT DISTINCT len(nm) AS L FROM names),
    segdef AS MATERIALIZED (
        SELECT L, k,
               CASE k WHEN 1 THEN 1
                      WHEN 2 THEN 1 + (L + 2) // 3
                      ELSE 1 + (L + 2) // 3 + (L + 1) // 3 END AS pos,
               CASE k WHEN 1 THEN (L + 2) // 3
                      WHEN 2 THEN (L + 1) // 3
                      ELSE L // 3 END AS slen
        FROM lens, (SELECT unnest([1, 2, 3]) AS k) ks
        WHERE (CASE k WHEN 1 THEN (L + 2) // 3
                      WHEN 2 THEN (L + 1) // 3
                      ELSE L // 3 END) > 0
    ),
    akeys AS (
        SELECT n.nm, s.L, s.k, substr(n.nm, s.pos, s.slen) AS piece
        FROM names n JOIN segdef s ON s.L = len(n.nm)
    ),
    bkeys AS (
        SELECT n.nm, s.L, s.k,
               substr(n.nm, s.pos + sh.sh, s.slen) AS piece
        FROM names n
        JOIN segdef s ON s.L BETWEEN len(n.nm) - 2 AND len(n.nm) + 2,
             (SELECT unnest([-2, -1, 0, 1, 2]) AS sh) sh
        WHERE s.pos + sh.sh >= 1
          AND s.pos + sh.sh + s.slen - 1 <= len(n.nm)
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.nm AS name_a, b.nm AS name_b
        FROM akeys a
        JOIN bkeys b ON a.L = b.L AND a.k = b.k AND a.piece = b.piece
        WHERE a.nm < b.nm
    ),
    dpairs AS MATERIALIZED (
        SELECT name_a, name_b,
               CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
        FROM cand WHERE levenshtein(name_a, name_b) <= 2
    )
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, 0 AS dist
    FROM part a JOIN part b
      ON a.p_name = b.p_name AND a.p_partkey < b.p_partkey
    UNION ALL
    SELECT least(ia.p_partkey, ib.p_partkey) AS id_a,
           greatest(ia.p_partkey, ib.p_partkey) AS id_b, d.dist
    FROM dpairs d
    JOIN part ia ON ia.p_name = d.name_a
    JOIN part ib ON ib.p_name = d.name_b
"""


def _khop_sql() -> str:
    sql = """
    WITH pairs AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
        SELECT cust AS src, -supp AS dst FROM pairs
        UNION ALL
        SELECT -supp AS src, cust AS dst FROM pairs
    ),
    d0 AS (
        SELECT c_custkey AS node, 0 AS dist FROM customer WHERE c_custkey <= 10
    )"""
    prev = "d0"
    for h in range(1, 4):
        sql += f""",
    d{h} AS (
        SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT DISTINCT e.dst AS node, {h} AS dist
            FROM edges e JOIN {prev} f ON e.src = f.node AND f.dist = {h - 1}
        ) GROUP BY node
    )"""
        prev = f"d{h}"
    sql += f"""
    SELECT node, dist FROM {prev}
    """
    return sql


ORACLES["khop_trade_graph"] = _khop_sql()

ORACLES["yoy_nation_revenue"] = """
    WITH yearly AS (
        SELECT n_name AS nation, year(l_shipdate) AS yr,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev_c
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY n_name, year(l_shipdate)
    )
    SELECT nation, yr, rev_c,
           lag(rev_c) OVER (PARTITION BY nation ORDER BY yr) AS prev_rev_c
    FROM yearly
"""

ORACLES["part_return_ratio"] = """
    WITH agg AS (
        SELECT p_brand,
               CAST(sum(CASE WHEN l_returnflag = 'R'
                        THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS returned_qty,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS shipped_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    )
    SELECT p_brand, returned_qty, shipped_qty,
           (returned_qty * 1000000) // shipped_qty AS return_ppm
    FROM agg
    WHERE shipped_qty >= 10
"""

ORACLES["repeat_customer_years"] = """
    WITH cy AS (
        SELECT DISTINCT o_custkey, year(o_orderdate) AS yr FROM orders
    ),
    flagged AS (
        SELECT yr,
               lag(yr) OVER (PARTITION BY o_custkey ORDER BY yr) AS prev_yr
        FROM cy
    )
    SELECT yr, count(*) AS n_customers,
           CAST(sum(CASE WHEN prev_yr = yr - 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_repeat
    FROM flagged GROUP BY yr
"""

ORACLES["supplier_concentration_hhi"] = """
    WITH per_supp AS (
        SELECT n_name AS nation, s_suppkey,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS srev_c
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY n_name, s_suppkey
    ),
    totals AS (
        SELECT nation, CAST(sum(srev_c) AS BIGINT) AS nrev_c
        FROM per_supp GROUP BY nation
    ),
    shared AS (
        SELECT p.nation, (p.srev_c * 1000000) // t.nrev_c AS share_ppm
        FROM per_supp p JOIN totals t USING (nation)
    )
    SELECT nation, count(*) AS n_suppliers,
           CAST(sum(share_ppm * share_ppm) AS BIGINT) AS hhi_ppm2
    FROM shared GROUP BY nation
"""

# bpe_merges: the full 8-round BPE training loop unrolled into one static
# SQL chain (same technique as _pagerank_sql) — closing the last rows-only
# hole. Each round is (pair counts -> deterministic argmax -> greedy-LTR
# merge apply). The apply step has a pure window-function form because
# merge candidates (syms[i]=a AND syms[i+1]=b) can only OVERLAP when a=b
# (candidate i needs syms[i]=a, candidate i-1 needs syms[i]=b), so:
#   - a != b: every candidate merges (no chain dependency);
#   - a == b: candidates form runs over equal-symbol runs and greedy-LTR
#     takes exactly the even offsets within each run.
# Both cases collapse to: group consecutive candidate positions
# (i - row_number() run id), merge iff (i - run_start) is even — which is
# provably the same result as the Spark side's replace-last aggregate()
# fold (operators/bpe.py::_merge_expr), since a merged token a||b can never
# itself equal `a` (b is non-empty). CTEs that are referenced more than
# once are MATERIALIZED: DuckDB otherwise inlines the whole 8-round chain
# exponentially.
def _bpe_merges_sql(n_merges: int = 8) -> str:
    sql = """
    WITH v0 AS MATERIALIZED (
        SELECT word, count(*) AS freq,
               regexp_extract_all(word, '(?s).') AS syms
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE len(word) > 0
        GROUP BY word
    )"""
    for k in range(1, n_merges + 1):
        p = f"v{k - 1}"
        sql += f""",
    m{k} AS MATERIALIZED (
        SELECT a, b FROM (
            SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i AS INT)+1] AS b,
                   sum(freq) AS cnt
            FROM {p}, UNNEST(generate_series(1, len(syms)-1)) AS t(i)
            GROUP BY 1, 2
        ) ORDER BY cnt DESC, a, b LIMIT 1
    ),
    e{k} AS (
        SELECT word, freq, i, syms[CAST(i AS INT)] AS sym
        FROM {p}, UNNEST(generate_series(1, len(syms))) AS t(i)
    ),
    c{k} AS (
        SELECT word, freq, i, sym,
               coalesce(sym = (SELECT a FROM m{k})
                        AND lead(sym) OVER (PARTITION BY word ORDER BY i)
                            = (SELECT b FROM m{k}), false) AS cand
        FROM e{k}
    ),
    r{k} AS (
        SELECT *, CASE WHEN cand THEN
            i - row_number() OVER (PARTITION BY word, cand ORDER BY i) END AS run_id
        FROM c{k}
    ),
    g{k} AS (
        SELECT *, cand AND (i - min(i) OVER (PARTITION BY word, run_id)) % 2 = 0
                      AS merged
        FROM r{k}
    ),
    f{k} AS (
        SELECT word, freq, i,
               CASE WHEN merged THEN sym || (SELECT b FROM m{k}) ELSE sym END AS sym,
               coalesce(lag(merged) OVER (PARTITION BY word ORDER BY i), false)
                   AS consumed
        FROM g{k}
    ),
    v{k} AS MATERIALIZED (
        SELECT word, freq, list(sym ORDER BY i) AS syms
        FROM f{k} WHERE NOT consumed GROUP BY word, freq
    )"""
    sql += "\n    " + "\n    UNION ALL ".join(
        f"SELECT {k} AS step, a AS sym_a, b AS sym_b FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return sql


ORACLES["bpe_merges"] = _bpe_merges_sql(8)

ORACLES["corpus_rollup"] = """
    SELECT coalesce(lang, 'ALL') AS lang,
           coalesce(source, 'ALL') AS source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
    FROM documents
    GROUP BY ROLLUP (lang, source)
"""


ORACLES["session_islands"] = """
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) // 1000000 AS ts_s FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, ts_s,
               CASE WHEN ts_s - lag(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS new_sess
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
    ),
    numbered AS (
        SELECT user_id, ts_s,
               CAST(sum(new_sess) OVER (PARTITION BY user_id
                                        ORDER BY ts_s, event_id) AS BIGINT)
                   AS sess_no
        FROM flagged
    )
    SELECT user_id, sess_no, count(*) AS n_events,
           min(ts_s) AS start_s, max(ts_s) AS end_s,
           max(ts_s) - min(ts_s) AS dur_s
    FROM numbered GROUP BY user_id, sess_no
"""

ORACLES["gap_fill_locf"] = """
    WITH daily AS (
        SELECT n_name AS nation,
               datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS day_no,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS day_rev_c
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    cal AS (
        SELECT nation, unnest(generate_series(min(day_no), max(day_no))) AS day_no
        FROM daily GROUP BY nation
    )
    SELECT c.nation, c.day_no,
           CAST(last_value(d.day_rev_c IGNORE NULLS)
                OVER (PARTITION BY c.nation ORDER BY c.day_no) AS BIGINT)
               AS rev_filled_c,
           CASE WHEN d.day_rev_c IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM cal c LEFT JOIN daily d ON c.nation = d.nation AND c.day_no = d.day_no
"""

ORACLES["inverted_index"] = """
    WITH pairs AS (
        SELECT DISTINCT term, doc_id FROM (
            SELECT unnest(string_split(text, ' ')) AS term, doc_id FROM documents
        ) WHERE len(term) > 0
    )
    SELECT term, count(*) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM pairs GROUP BY term HAVING count(*) >= 10
"""

ORACLES["corpus_profile"] = """
    WITH n AS (SELECT count(*) AS n_rows FROM documents)
    SELECT column_name, n_rows, n_null, n_distinct FROM (
        SELECT 'doc_id' AS column_name, (SELECT n_rows FROM n) AS n_rows,
               count(*) - count(doc_id) AS n_null,
               count(DISTINCT doc_id) AS n_distinct FROM documents
        UNION ALL
        SELECT 'text', (SELECT n_rows FROM n),
               count(*) - count(text), count(DISTINCT text) FROM documents
        UNION ALL
        SELECT 'lang', (SELECT n_rows FROM n),
               count(*) - count(lang), count(DISTINCT lang) FROM documents
        UNION ALL
        SELECT 'source', (SELECT n_rows FROM n),
               count(*) - count(source), count(DISTINCT source) FROM documents
        UNION ALL
        SELECT 'n_chars', (SELECT n_rows FROM n),
               count(*) - count(n_chars), count(DISTINCT n_chars) FROM documents
    )
"""

# weighted_sample: mirrors q_weighted_sample's integer priority-sampling
# rank exactly (16-bit-limb Knuth hash, 2^16 scale, floor division).
ORACLES["weighted_sample"] = """
    SELECT doc_id, lang, n_chars,
           (((((((doc_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536
              + ((doc_id % 4294967296) % 65536) * 2654435761) % 4294967296)
            * 65536) // greatest(CAST(n_chars AS BIGINT), 1) AS rank
    FROM documents
    ORDER BY rank, doc_id
    LIMIT 200
"""

# triangle_count: id-oriented 3-way self-join — the orientation choice
# (degree order in the operator, id order here) never changes the count.
ORACLES["triangle_count"] = """
    WITH e AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM e e1 JOIN e e2 ON e1.v = e2.u
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
"""

ORACLES["chunk_documents"] = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, i AS chunk_no,
               ts[CAST(i*24+1 AS BIGINT):CAST(i*24+32 AS BIGINT)] AS chunk
        FROM toks,
             UNNEST(generate_series(0, greatest((len(ts)-32+23)//24, 0))) AS g(i)
    )
    SELECT doc_id, chunk_no,
           CAST(len(chunk) AS BIGINT) AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
    FROM chunks WHERE len(chunk) > 0
"""


ORACLES["sliding_distinct_users"] = """
    WITH day_user AS (
        SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
        FROM events
    )
    SELECT day + off AS win_end_day, count(DISTINCT user_id) AS n_users
    FROM day_user, UNNEST(generate_series(0, 6)) AS t(off)
    GROUP BY day + off
"""


# ---------------------------------------------------------------------------
# Event analytics + corpus profiling twins. Integer-only outputs; every SUM
# that DuckDB would promote to HUGEINT is cast back to BIGINT (the r5 lesson,
# enforced by
# tests/test_queries_oracle.py::test_oracle_types_spark_expressible).
# ---------------------------------------------------------------------------

ORACLES["event_transitions"] = """
    WITH s AS (
        SELECT event_type AS to_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS from_type
        FROM events
    )
    SELECT from_type, to_type, count(*) AS n
    FROM s WHERE from_type IS NOT NULL
    GROUP BY from_type, to_type
"""

ORACLES["top_event_paths"] = """
    WITH s AS (
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS rn
        FROM events
    ), p AS (
        SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        FROM s WHERE rn <= 5 GROUP BY user_id
    )
    SELECT path, count(*) AS n_users
    FROM p GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 50
"""

ORACLES["vocab_coverage"] = """
    WITH t AS (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ), c AS (
        SELECT term, count(*) AS n FROM t WHERE len(term) > 0 GROUP BY term
    ), cu AS (
        SELECT term, n,
               CAST(sum(n) OVER (ORDER BY n DESC, term) AS BIGINT) AS cum
        FROM c
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS total FROM c
    )
    SELECT term, n, cum
    FROM cu, tot
    WHERE (cum - n) * 10 < total * 9
"""

ORACLES["ohlc_daily"] = """
    WITH e AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS day,
               epoch_us(ts) // 1000000 AS ts_s,
               event_id,
               CAST(floor(value * 1000000) AS BIGINT) AS v_u
        FROM events
    ), oc AS (
        SELECT event_type, day, v_u,
               first_value(v_u) OVER (
                   PARTITION BY event_type, day ORDER BY ts_s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS open_u,
               last_value(v_u) OVER (
                   PARTITION BY event_type, day ORDER BY ts_s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS close_u
        FROM e
    )
    SELECT event_type, day,
           max(open_u) AS open_u,
           max(close_u) AS close_u,
           min(v_u) AS lo_u,
           max(v_u) AS hi_u,
           count(*) AS n
    FROM oc GROUP BY event_type, day
"""

ORACLES["source_length_histogram"] = """
    SELECT source,
           length(bin(n_chars)) AS bucket,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    GROUP BY source, bucket
"""

ORACLES["lang_confusion"] = """
    WITH c AS (
        SELECT lang, string_split(text, ' ') AS w FROM documents
    ), n AS (
        SELECT lang,
               len(list_filter(w, x -> x IN ('the','a','of','and','is'))) AS en_n,
               len(list_filter(w, x -> x IN ('der','die','das','und','ist'))) AS de_n,
               len(list_filter(w, x -> x IN ('le','la','et','les','est'))) AS fr_n,
               len(list_filter(w, x -> x IN ('el','los','las','y','es'))) AS es_n
        FROM c
    ), pred AS (
        SELECT lang,
               CASE WHEN en_n > 0 AND en_n >= greatest(en_n, de_n, fr_n, es_n) THEN 'en'
                    WHEN de_n > 0 AND de_n >= greatest(en_n, de_n, fr_n, es_n) THEN 'de'
                    WHEN fr_n > 0 AND fr_n >= greatest(en_n, de_n, fr_n, es_n) THEN 'fr'
                    WHEN es_n > 0 AND es_n >= greatest(en_n, de_n, fr_n, es_n) THEN 'es'
                    ELSE 'und' END AS lang_pred
        FROM n
    )
    SELECT lang, lang_pred, count(*) AS n_docs
    FROM pred GROUP BY lang, lang_pred
"""


ORACLES["customer_rfm"] = """
    WITH per_cust AS (
        SELECT o_custkey,
               max(epoch_us(o_orderdate) // 86400000000) AS last_day,
               count(*) AS frequency,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS monetary_c
        FROM orders GROUP BY o_custkey
    ), maxd AS (
        SELECT max(epoch_us(o_orderdate) // 86400000000) AS corpus_max_day
        FROM orders
    ), base AS (
        SELECT o_custkey,
               corpus_max_day - last_day AS recency_days,
               frequency, monetary_c
        FROM per_cust, maxd
    )
    SELECT o_custkey, recency_days, frequency, monetary_c,
           ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_band,
           ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_band,
           ntile(5) OVER (ORDER BY monetary_c DESC, o_custkey) AS m_band
    FROM base
"""

ORACLES["user_streaks"] = """
    WITH ud AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        FROM events
    ), isl AS (
        SELECT user_id,
               day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
        FROM ud
    ), runs AS (
        SELECT user_id, island, count(*) AS run_len
        FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(sum(run_len) AS BIGINT) AS n_active_days,
           max(run_len) AS longest_streak
    FROM runs GROUP BY user_id
"""

ORACLES["order_fill_latency"] = """
    SELECT o_orderpriority,
           (epoch_us(l_shipdate) // 86400000000
            - epoch_us(o_orderdate) // 86400000000) // 7 AS latency_weeks,
           count(*) AS n_lines
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority, latency_weeks
"""

ORACLES["copurchase_lift"] = """
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_orders_t AS (
        SELECT count(DISTINCT l_orderkey) AS n_orders FROM op
    ), singles AS (
        SELECT l_partkey, count(*) AS n_single FROM op GROUP BY l_partkey
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_ab
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= 5
    )
    SELECT part_a, part_b, n_ab,
           sa.n_single AS n_a, sb.n_single AS n_b,
           (n_ab * n_orders * 1000000) // (sa.n_single * sb.n_single) AS lift_ppm
    FROM pairs
    JOIN singles sa ON sa.l_partkey = part_a
    JOIN singles sb ON sb.l_partkey = part_b
    CROSS JOIN n_orders_t
    ORDER BY lift_ppm DESC, part_a, part_b
    LIMIT 50
"""


ORACLES["first_touch_attribution"] = """
    WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_us(ts) AS ts_u,
               CAST(floor(value * 1000000) AS BIGINT) AS v_u
        FROM events
    ), a AS (
        SELECT *,
               last_value(CASE WHEN event_type = 'click' THEN ts_u END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts_u, event_id) AS lc_ts
        FROM e
    )
    SELECT CASE WHEN lc_ts IS NULL THEN -1
                ELSE (ts_u - lc_ts) // 86400000000 END AS gap_days,
           count(*) AS n_purchases,
           CAST(sum(v_u) AS BIGINT) AS value_u
    FROM a WHERE event_type = 'purchase'
    GROUP BY gap_days
"""

ORACLES["pareto_parts"] = """
    WITH base AS (
        SELECT p_partkey,
               CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
               CAST(p_size AS BIGINT) AS size
        FROM part
    ), flagged AS (
        SELECT *,
               max(size) OVER (
                   ORDER BY price_c
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS best_cheaper_size
        FROM base
    )
    SELECT p_partkey, price_c, size
    FROM flagged
    WHERE best_cheaper_size IS NULL OR best_cheaper_size <= size
"""

ORACLES["brand_mode_returnflag"] = """
    WITH census AS (
        SELECT p_brand, l_returnflag, count(*) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, l_returnflag
    ), ranked AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY p_brand ORDER BY n DESC, l_returnflag
               ) AS rn
        FROM census
    )
    SELECT p_brand, l_returnflag AS mode_flag, n
    FROM ranked WHERE rn = 1
"""


ORACLES["median_order_value"] = """
    WITH base AS (
        SELECT o_orderpriority, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
        FROM orders
    ), ranked AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY o_orderpriority ORDER BY price_c, o_orderkey
               ) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n_orders
        FROM base
    )
    SELECT o_orderpriority, n_orders, price_c AS median_price_c
    FROM ranked WHERE rn = (n_orders + 1) // 2
"""

ORACLES["label_source_matrix"] = """
    SELECT source, label, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM embeddings JOIN documents ON vec_id = doc_id
    GROUP BY source, label
"""

ORACLES["seasonal_index"] = """
    WITH monthly AS (
        SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_c
        FROM orders GROUP BY yr, mo
    ), yearly AS (
        SELECT yr, CAST(sum(rev_c) AS BIGINT) AS year_c FROM monthly GROUP BY yr
    )
    SELECT monthly.yr, mo, rev_c,
           (rev_c * 12 * 1000000) // year_c AS index_ppm
    FROM monthly JOIN yearly ON monthly.yr = yearly.yr
"""

ORACLES["error_rate_hours"] = """
    WITH hours AS (
        SELECT epoch_us(ts) // 3600000000 AS hour_bin,
               count(*) AS n_events,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
        FROM events GROUP BY hour_bin
    )
    SELECT hour_bin, n_events, n_errors,
           (n_errors * 1000000) // n_events AS err_ppm
    FROM hours WHERE (n_errors * 1000000) // n_events > 250000
"""


ORACLES["degree_distribution"] = """
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), und AS (
        SELECT u, v FROM edges
        UNION ALL
        SELECT v AS u, u AS v FROM edges
    ), deg AS (
        SELECT u, count(*) AS degree FROM und GROUP BY u
    )
    SELECT length(bin(degree)) AS degree_bucket,
           count(*) AS n_nodes,
           CAST(sum(degree) AS BIGINT) AS sum_degree
    FROM deg GROUP BY degree_bucket
"""

ORACLES["gini_orders"] = """
    WITH per_cust AS (
        SELECT o_custkey, count(*) AS x FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS rank
        FROM per_cust
    ), m AS (
        SELECT count(*) AS n,
               CAST(sum(x) AS BIGINT) AS s0,
               CAST(sum(rank * x) AS BIGINT) AS s1
        FROM ranked
    )
    SELECT n, s0,
           (2 * s1 - (n + 1) * s0) * 1000000 // (n * s0) AS gini_ppm
    FROM m
"""

ORACLES["interarrival_histogram"] = """
    WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_us(ts) // 1000000 AS ts_s
        FROM events
    ), gaps AS (
        SELECT event_type,
               ts_s - lag(ts_s) OVER (
                   PARTITION BY user_id ORDER BY ts_s, event_id
               ) AS gap_s
        FROM e
    )
    SELECT event_type, length(bin(gap_s)) AS gap_bucket, count(*) AS n
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY event_type, gap_bucket
"""


ORACLES["revenue_pareto_customers"] = """
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_c
        FROM orders GROUP BY o_custkey
    ), tot AS (
        SELECT CAST(sum(rev_c) AS BIGINT) AS total_rev_c,
               count(*) AS n_customers
        FROM per_cust
    ), cum AS (
        SELECT rev_c,
               CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, o_custkey) AS BIGINT) AS cum_c
        FROM per_cust
    )
    SELECT count(*) AS n_top, n_customers,
           CAST(sum(rev_c) AS BIGINT) AS top_rev_c, total_rev_c
    FROM cum, tot
    WHERE (cum_c - rev_c) * 10 < total_rev_c * 8
    GROUP BY n_customers, total_rev_c
"""

ORACLES["segment_status_matrix"] = """
    SELECT c_mktsegment, o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_c
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, o_orderstatus
"""

ORACLES["negative_balance_exposure"] = """
    WITH risky AS (
        SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal < 0
    ), open_orders AS (
        SELECT o_custkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS open_c
        FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT n_name AS nation,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_risky_customers,
           count(*) AS n_open_orders,
           CAST(sum(open_c) AS BIGINT) AS exposure_c
    FROM open_orders
    JOIN risky ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


ORACLES["dow_hour_heatmap"] = """
    SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
           (epoch_us(ts) // 3600000000) % 24 AS hour,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS value_u
    FROM events
    GROUP BY dow, hour
"""

ORACLES["first_event_census"] = """
    WITH ranked AS (
        SELECT event_type,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS rn
        FROM events
    )
    SELECT event_type AS first_type, count(*) AS n_users
    FROM ranked WHERE rn = 1
    GROUP BY event_type
"""

ORACLES["wau_dau_stickiness"] = """
    WITH day_user AS (
        SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
        FROM events
    ), dau AS (
        SELECT day, count(DISTINCT user_id) AS dau FROM day_user GROUP BY day
    ), wau AS (
        SELECT day + off AS day, count(DISTINCT user_id) AS wau
        FROM day_user, UNNEST(generate_series(0, 6)) AS t(off)
        GROUP BY day + off
    )
    SELECT dau.day, dau.dau, wau.wau,
           (dau * 1000000) // wau AS stickiness_ppm
    FROM dau JOIN wau ON dau.day = wau.day
"""

ORACLES["dedup_rate_by_source"] = """
    WITH fp AS (
        SELECT source,
               md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                       ' +', ' ', 'g'))) AS fp
        FROM documents
    ), agg AS (
        SELECT source, count(*) AS n_docs,
               CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct
        FROM fp GROUP BY source
    )
    SELECT source, n_docs, n_distinct,
           ((n_docs - n_distinct) * 1000000) // n_docs AS dup_ppm
    FROM agg
"""

ORACLES["supplier_lead_time_stats"] = """
    WITH x AS (
        SELECT l_suppkey,
               epoch_us(l_shipdate) // 86400000000
               - epoch_us(o_orderdate) // 86400000000 AS lead_days
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), m AS (
        SELECT l_suppkey, count(*) AS n,
               CAST(sum(lead_days) AS BIGINT) AS s1,
               CAST(sum(lead_days * lead_days) AS BIGINT) AS s2
        FROM x GROUP BY l_suppkey
        HAVING count(*) >= 10
    )
    SELECT l_suppkey, n,
           (s1 * 100) // n AS mean_days_x100,
           ((n * s2 - s1 * s1) * 10000) // (n * n) AS var_days_x10000
    FROM m
"""


# ---------------------------------------------------------------------------
# Integer-only / set-determined outputs; every SUM DuckDB would promote to
# HUGEINT is cast back to BIGINT; rank()/row_number() cast to INTEGER to match
# Spark's IntegerType.
# ---------------------------------------------------------------------------

ORACLES["topk_brand_parts_ties"] = """
    WITH rev AS (
        SELECT p_brand, p_partkey,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev_c
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, p_partkey
    ), ranked AS (
        SELECT *,
               CAST(rank() OVER (PARTITION BY p_brand ORDER BY rev_c DESC)
                    AS INTEGER) AS rnk
        FROM rev
    )
    SELECT p_brand, p_partkey, rev_c, rnk FROM ranked WHERE rnk <= 3
"""

ORACLES["quantity_quartiles"] = """
    WITH base AS (
        SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS qty
        FROM lineitem
    ), ranked AS (
        SELECT l_returnflag, qty,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY qty) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM base
    )
    SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
           max(CASE WHEN rn = (n + 3) // 4 THEN qty END) AS q25_qty,
           max(CASE WHEN rn = (n + 1) // 2 THEN qty END) AS q50_qty,
           max(CASE WHEN rn = (3 * n + 3) // 4 THEN qty END) AS q75_qty
    FROM ranked GROUP BY l_returnflag
"""

ORACLES["session_funnel"] = """
    WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_us(ts) // 1000000 AS ts_s
        FROM events
    ), marked AS (
        SELECT *,
               CASE WHEN lag(ts_s) OVER w IS NULL
                      OR ts_s - lag(ts_s) OVER w > 1800
                    THEN 1 ELSE 0 END AS new_sess
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
    ), numbered AS (
        SELECT *,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts_s, event_id
               ) AS sess_no
        FROM marked
    ), sessions AS (
        SELECT user_id, sess_no, count(*) AS n_events,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM numbered GROUP BY user_id, sess_no
    )
    SELECT length(bin(n_events)) AS size_bucket,
           count(*) AS n_sessions,
           CAST(sum(conv) AS BIGINT) AS n_converted
    FROM sessions GROUP BY size_bucket
"""

ORACLES["brand_rank_shift_yoy"] = """
    WITH yearly AS (
        SELECT p_brand, year(l_shipdate) AS yr,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev_c
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, yr
    ), ranked AS (
        SELECT *,
               CAST(row_number() OVER (
                   PARTITION BY yr ORDER BY rev_c DESC, p_brand
               ) AS INTEGER) AS rnk
        FROM yearly
    )
    SELECT p_brand, yr, rev_c, rnk,
           lag(rnk) OVER (PARTITION BY p_brand ORDER BY yr) AS prev_rnk
    FROM ranked
"""

ORACLES["source_overlap_matrix"] = """
    WITH toks AS (
        SELECT source, string_split(text, ' ') AS w FROM documents
    ), sh AS (
        SELECT DISTINCT source,
               array_to_string(list_slice(w, u.i, u.i + 4), ' ') AS sh
        FROM toks, unnest(range(1, len(w) - 3)) u(i)
        WHERE len(w) >= 5
    )
    SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
    FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
    GROUP BY src_a, src_b
"""

ORACLES["customer_order_gap_median"] = """
    WITH o AS (
        SELECT o_custkey, o_orderkey,
               epoch_us(o_orderdate) // 86400000000 AS od
        FROM orders
    ), gaps AS (
        SELECT o_custkey,
               od - lag(od) OVER (
                   PARTITION BY o_custkey ORDER BY od, o_orderkey
               ) AS gap_days
        FROM o
    ), ranked AS (
        SELECT o_custkey, gap_days,
               row_number() OVER (
                   PARTITION BY o_custkey ORDER BY gap_days
               ) AS rn,
               count(*) OVER (PARTITION BY o_custkey) AS m
        FROM gaps WHERE gap_days IS NOT NULL
    )
    SELECT o_custkey, CAST(max(m) AS BIGINT) AS n_gaps,
           max(CASE WHEN rn = (m + 1) // 2 THEN gap_days END) AS median_gap_days
    FROM ranked GROUP BY o_custkey
    HAVING max(m) >= 3
"""


# ---------------------------------------------------------------------------
# All arithmetic is integer (counts, cent-scaled revenue, basis-point shares
# with positive-operand // division) so value hashes replay engine-exactly;
# every SUM over BIGINT is cast back from HUGEINT.
# ---------------------------------------------------------------------------

ORACLES["nation_yoy_order_growth"] = """
    WITH yearly AS (
        SELECT n.n_name, year(o.o_orderdate) AS yr,
               count(*) AS orders_cnt
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, yr
    )
    SELECT n_name, CAST(yr AS INT) AS yr, orders_cnt,
           (orders_cnt * 10000) // lag(orders_cnt) OVER (
               PARTITION BY n_name ORDER BY yr
           ) - 10000 AS growth_bp
    FROM yearly
"""

ORACLES["order_concurrency_peak"] = """
    WITH closed AS (
        SELECT l_orderkey,
               max(epoch_us(l_shipdate) // 86400000000) AS close_day
        FROM lineitem GROUP BY l_orderkey
    ), spans AS (
        SELECT c.c_mktsegment,
               epoch_us(o.o_orderdate) // 86400000000 AS open_day,
               cl.close_day
        FROM orders o
        JOIN closed cl ON o.o_orderkey = cl.l_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    ), ev AS (
        SELECT c_mktsegment, open_day AS day, 1 AS delta FROM spans
        UNION ALL
        SELECT c_mktsegment, close_day + 1 AS day, -1 AS delta FROM spans
    ), daily AS (
        SELECT c_mktsegment, day, CAST(sum(delta) AS BIGINT) AS net
        FROM ev GROUP BY c_mktsegment, day
    ), run AS (
        SELECT c_mktsegment, day,
               CAST(sum(net) OVER (
                   PARTITION BY c_mktsegment ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS open_orders
        FROM daily
    ), peaked AS (
        SELECT c_mktsegment, day, open_orders,
               max(open_orders) OVER (PARTITION BY c_mktsegment) AS peak
        FROM run
    )
    SELECT c_mktsegment, min(day) AS first_peak_day, max(peak) AS peak_open
    FROM peaked WHERE open_orders = peak GROUP BY c_mktsegment
"""

ORACLES["nation_seat_apportionment"] = """
    WITH cnt AS (
        SELECT n.n_name, count(*) AS orders_cnt
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ), quotas AS (
        SELECT n_name, orders_cnt,
               (orders_cnt * 10000)
                   // CAST(sum(orders_cnt) OVER () AS BIGINT) AS floor_seats,
               (orders_cnt * 10000)
                   % CAST(sum(orders_cnt) OVER () AS BIGINT) AS rem
        FROM cnt
    ), ranked AS (
        SELECT n_name, orders_cnt, floor_seats,
               CAST(sum(floor_seats) OVER () AS BIGINT) AS base_total,
               row_number() OVER (ORDER BY rem DESC, n_name) AS rk
        FROM quotas
    )
    SELECT n_name, orders_cnt,
           floor_seats + CASE WHEN rk <= 10000 - base_total
                              THEN 1 ELSE 0 END AS seats
    FROM ranked
"""

ORACLES["event_type_daily_share"] = """
    WITH per AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS cnt
        FROM events GROUP BY day, event_type
    )
    SELECT day, event_type, cnt,
           (cnt * 10000) // CAST(sum(cnt) OVER (PARTITION BY day) AS BIGINT)
               AS share_bp
    FROM per
"""

ORACLES["repeat_purchase_rate"] = """
    WITH per_cust AS (
        SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
    ), by_nation AS (
        SELECT n.n_name, count(*) AS n_buyers,
               CAST(sum(CASE WHEN p.n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_repeat
        FROM per_cust p
        JOIN customer c ON p.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    )
    SELECT n_name, n_buyers, n_repeat,
           (n_repeat * 10000) // n_buyers AS repeat_bp
    FROM by_nation
"""

ORACLES["brand_weighted_median_price"] = """
    WITH per_price AS (
        SELECT p.p_brand,
               CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS price_c,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand, price_c
    ), cum AS (
        SELECT p_brand, price_c,
               CAST(sum(qty) OVER (
                   PARTITION BY p_brand ORDER BY price_c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_qty,
               CAST(sum(qty) OVER (PARTITION BY p_brand) AS BIGINT) AS tot_qty
        FROM per_price
    )
    SELECT p_brand, min(price_c) AS wmedian_price_c,
           max(tot_qty) AS total_qty
    FROM cum WHERE 2 * cum_qty >= tot_qty GROUP BY p_brand
"""

# Gaps-and-islands: month_no minus a per-customer row_number is constant
# within a consecutive-month run. row_number ties are impossible (months
# are distinct per customer), so the island ids are deterministic.
ORACLES["customer_streak_census"] = """
    WITH m AS (
        SELECT DISTINCT o_custkey,
               year(o_orderdate) * 12 + month(o_orderdate) AS mno
        FROM orders
    ), isl AS (
        SELECT o_custkey,
               mno - row_number() OVER (
                   PARTITION BY o_custkey ORDER BY mno
               ) AS grp
        FROM m
    ), runs AS (
        SELECT o_custkey, count(*) AS run_len FROM isl
        GROUP BY o_custkey, grp
    ), longest AS (
        SELECT o_custkey, max(run_len) AS streak FROM runs
        GROUP BY o_custkey
    )
    SELECT CAST(streak AS BIGINT) AS streak_months,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM longest GROUP BY streak
"""

# MAD as a double order statistic (lower median at position (n+1)//2 both
# times). The oracle uses the row-level row_number formulation — simplest
# to trust; the engine's collapsed cumulative-threshold form selects the
# same value because both are exact order statistics over one multiset.
ORACLES["brand_price_mad"] = """
    WITH px AS (
        SELECT p.p_brand,
               CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS price_c
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), ranked AS (
        SELECT p_brand, price_c,
               row_number() OVER (PARTITION BY p_brand ORDER BY price_c) AS rk,
               count(*) OVER (PARTITION BY p_brand) AS n
        FROM px
    ), med AS (
        SELECT p_brand, price_c AS median_price_c
        FROM ranked WHERE rk = (n + 1) // 2
    ), dev AS (
        SELECT px.p_brand, abs(px.price_c - m.median_price_c) AS d
        FROM px JOIN med m ON px.p_brand = m.p_brand
    ), ranked2 AS (
        SELECT p_brand, d,
               row_number() OVER (PARTITION BY p_brand ORDER BY d) AS rk,
               count(*) OVER (PARTITION BY p_brand) AS n
        FROM dev
    )
    SELECT r2.p_brand, m.median_price_c, CAST(r2.d AS BIGINT) AS mad_c
    FROM ranked2 r2 JOIN med m ON r2.p_brand = m.p_brand
    WHERE r2.rk = (r2.n + 1) // 2
"""


# ---------------------------------------------------------------------------
# Type discipline: every count stays BIGINT, SUM(BIGINT) casts back from
# HUGEINT, ntile/dense_rank/year-derived keys cast to INT to match Spark's
# column types (the driver's value hash is type-sensitive).
# ---------------------------------------------------------------------------

ORACLES["clv_decile_migration"] = """
    WITH per AS (
        SELECT o_custkey, year(o_orderdate) AS yr,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                   AS rev_c
        FROM orders GROUP BY o_custkey, yr
    ),
    y0 AS (SELECT min(yr) AS y0 FROM per),
    dec AS (
        SELECT o_custkey, yr,
               CAST(ntile(10) OVER (
                   PARTITION BY yr ORDER BY rev_c DESC, o_custkey
               ) AS INT) AS d
        FROM per, y0
        WHERE yr = y0 OR yr = y0 + 1
    )
    SELECT a.d AS decile_from, b.d AS decile_to,
           count(*) AS n_customers
    FROM dec a JOIN dec b ON a.o_custkey = b.o_custkey
    JOIN y0 ON TRUE
    WHERE a.yr = y0.y0 AND b.yr = y0.y0 + 1
    GROUP BY a.d, b.d
"""

ORACLES["new_parts_monthly_cumulative"] = """
    WITH firsts AS (
        SELECT l_partkey,
               min(CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT))
                   AS first_mk
        FROM lineitem GROUP BY l_partkey
    ),
    census AS (
        SELECT first_mk AS month_key, count(*) AS n_new_parts
        FROM firsts GROUP BY first_mk
    )
    SELECT month_key, n_new_parts,
           CAST(sum(n_new_parts) OVER (
               ORDER BY month_key
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_parts
    FROM census
"""

ORACLES["nation_order_gaps"] = """
    WITH ok AS (
        SELECT o_custkey,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS INT)
                   AS k
        FROM orders
    ),
    observed AS (
        SELECT DISTINCT c.c_nationkey, ok.k
        FROM ok JOIN customer c ON ok.o_custkey = c.c_custkey
    ),
    bounds AS (SELECT min(k) AS k0, max(k) AS k1 FROM ok),
    months AS (
        SELECT CAST(unnest(generate_series(k0, k1)) AS INT) AS k FROM bounds
    ),
    spine AS (
        SELECT n.c_nationkey, m.k
        FROM (SELECT DISTINCT c_nationkey FROM observed) n, months m
    ),
    gaps AS (
        SELECT s.c_nationkey, s.k
        FROM spine s ANTI JOIN observed o
            ON s.c_nationkey = o.c_nationkey AND s.k = o.k
    )
    SELECT n.n_name, count(*) AS n_gap_months,
           CAST((min(g.k) // 12) * 100 + (min(g.k) % 12 + 1) AS INT)
               AS first_gap_month
    FROM gaps g JOIN nation n ON g.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""

ORACLES["gap_trend_census"] = """
    WITH gaps AS (
        SELECT o_custkey, o_orderdate, o_orderkey,
               epoch(o_orderdate) - lag(epoch(o_orderdate)) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS gap_s
        FROM orders
    ),
    deltas AS (
        SELECT o_custkey,
               gap_s - lag(gap_s) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS d
        FROM gaps WHERE gap_s IS NOT NULL
    )
    SELECT CAST(sign(d) AS INT) AS trend,
           count(*) AS n_transitions,
           count(DISTINCT o_custkey) AS n_customers
    FROM deltas WHERE d IS NOT NULL
    GROUP BY trend
"""

ORACLES["nation_top_supplier_rank"] = """
    WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2))
                           - CAST(l_discount AS DECIMAL(18,2))))
                    * 10000 AS BIGINT) AS rev_c4
        FROM lineitem GROUP BY l_suppkey
    ),
    champs AS (
        SELECT s.s_nationkey, s.s_name, r.rev_c4,
               row_number() OVER (
                   PARTITION BY s.s_nationkey
                   ORDER BY r.rev_c4 DESC, s.s_suppkey
               ) AS rn
        FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    )
    SELECT n.n_name, c.s_name AS top_supplier, c.rev_c4,
           CAST(dense_rank() OVER (
               ORDER BY c.rev_c4 DESC, n.n_name
           ) AS INT) AS nation_rank
    FROM champs c JOIN nation n ON c.s_nationkey = n.n_nationkey
    WHERE c.rn = 1
"""

ORACLES["unresolved_errors"] = """
    WITH err AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS et
        FROM events WHERE event_type = 'error'
    ),
    pur AS (
        SELECT user_id AS p_user, CAST(floor(epoch(ts)) AS BIGINT) AS pt
        FROM events WHERE event_type = 'purchase'
    ),
    unresolved AS (
        SELECT e.user_id, e.et
        FROM err e ANTI JOIN pur p
            ON e.user_id = p.p_user AND p.pt > e.et AND p.pt <= e.et + 3600
    )
    SELECT user_id, count(*) AS n_unresolved,
           min(et) AS first_unresolved_s
    FROM unresolved GROUP BY user_id
"""

ORACLES["lang_topk_with_other"] = """
    WITH counts AS (
        SELECT source, lang, count(*) AS n_docs
        FROM documents GROUP BY source, lang
    ),
    ranked AS (
        SELECT source, lang, n_docs,
               row_number() OVER (
                   PARTITION BY source ORDER BY n_docs DESC, lang
               ) AS rk
        FROM counts
    )
    SELECT source, lang AS lang_or_other, n_docs, CAST(rk AS INT) AS rank
    FROM ranked WHERE rk <= 2
    UNION ALL
    SELECT source, 'OTHER', CAST(sum(n_docs) AS BIGINT), CAST(3 AS INT)
    FROM ranked WHERE rk > 2 GROUP BY source
"""

ORACLES["winsorized_order_stats"] = """
    WITH base AS (
        SELECT o_orderpriority,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS price_c,
               o_orderkey
        FROM orders
    ),
    ranked AS (
        SELECT o_orderpriority, price_c,
               row_number() OVER (
                   PARTITION BY o_orderpriority ORDER BY price_c, o_orderkey
               ) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM base
    ),
    bounds AS (
        SELECT o_orderpriority,
               min(CASE WHEN rn = greatest(1, (n * 10) // 100)
                   THEN price_c END) AS p10_c,
               min(CASE WHEN rn = greatest(1, (n * 90) // 100)
                   THEN price_c END) AS p90_c
        FROM ranked GROUP BY o_orderpriority
    )
    SELECT r.o_orderpriority, count(*) AS n_orders,
           CAST(sum(r.price_c) AS BIGINT) AS sum_raw_c,
           CAST(sum(greatest(b.p10_c, least(b.p90_c, r.price_c))) AS BIGINT)
               AS sum_winsorized_c
    FROM ranked r JOIN bounds b ON r.o_orderpriority = b.o_orderpriority
    GROUP BY r.o_orderpriority
"""


# ---------------------------------------------------------------------------
# r11 analytics batch: exact-integer-moment twins of the six new queries.
# corr/acf deliberately AVOID DuckDB's corr() (float accumulation would not
# hash-match Spark); both engines derive the final doubles from identical
# HUGEINT/DECIMAL(38,0) moments with the same IEEE op chain.
# ---------------------------------------------------------------------------

ORACLES["benford_digit_census"] = """
    WITH c AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_c
        FROM orders
    ), g AS (
        SELECT CAST(substr(CAST(price_c AS VARCHAR), 1, 1) AS BIGINT)
                   AS digit,
               count(*) AS n
        FROM c GROUP BY digit
    ), t AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_total FROM g
    )
    SELECT digit, n, n * 1000000 // n_total AS obs_ppm FROM g, t
"""

ORACLES["brand_qty_price_corr"] = """
    WITH j AS (
        SELECT p_brand,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS y
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ), m AS (
        SELECT p_brand, count(*) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(y AS HUGEINT) * y) AS syy,
               sum(CAST(x AS HUGEINT) * y) AS sxy
        FROM j GROUP BY p_brand
    )
    SELECT p_brand, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE) /
                 sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                      CAST(n * syy - sy * sy AS DOUBLE)), 6)
               AS corr_qty_price,
           round(CAST(n * sxy - sx * sy AS DOUBLE) /
                 CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_c_per_qty
    FROM m
"""

ORACLES["ks_priority_price"] = """
    WITH base AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS price_c,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS is_a
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), per AS (
        SELECT price_c,
               CAST(sum(is_a) AS BIGINT) AS c1,
               CAST(sum(1 - is_a) AS BIGINT) AS c2
        FROM base GROUP BY price_c
    ), cums AS (
        SELECT CAST(sum(c1) OVER (ORDER BY price_c) AS BIGINT) AS cum1,
               CAST(sum(c2) OVER (ORDER BY price_c) AS BIGINT) AS cum2
        FROM per
    ), tot AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c2) AS BIGINT) AS n2
        FROM per
    )
    SELECT n1, n2,
           CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS ks_num,
           CAST(max(abs(cum1 * n2 - cum2 * n1)) * 1000000 // (n1 * n2)
                AS BIGINT) AS ks_ppm
    FROM cums, tot GROUP BY n1, n2
"""

ORACLES["survival_km_table"] = """
    WITH g AS (
        SELECT date_diff('day',
                   lag(o_orderdate) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                   ),
                   o_orderdate) AS gap
        FROM orders
    ), dp AS (
        SELECT CAST(least(52, gap // 7) AS BIGINT) AS wk,
               count(*) AS d_i
        FROM g WHERE gap IS NOT NULL GROUP BY wk
    )
    SELECT a.wk,
           CAST(sum(b.d_i) AS BIGINT) AS n_at_risk,
           a.d_i,
           a.d_i * 1000000 // CAST(sum(b.d_i) AS BIGINT) AS hazard_ppm
    FROM dp a JOIN dp b ON b.wk >= a.wk
    GROUP BY a.wk, a.d_i
"""

ORACLES["daily_revenue_acf"] = """
    WITH day AS (
        SELECT date_diff('day', DATE '1990-01-01',
                         CAST(o_orderdate AS DATE)) AS di,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    ) AS BIGINT) AS rev
        FROM orders GROUP BY di
    ), lags AS (
        SELECT unnest(range(1, 8)) AS lag
    ), pairs AS (
        SELECT l.lag, a.rev AS xv, b.rev AS yv
        FROM day a CROSS JOIN lags l
        JOIN day b ON b.di = a.di - l.lag
    ), m AS (
        SELECT lag, count(*) AS n_days,
               CAST(sum(xv) AS HUGEINT) AS sx,
               CAST(sum(yv) AS HUGEINT) AS sy,
               sum(CAST(xv AS HUGEINT) * xv) AS sxx,
               sum(CAST(yv AS HUGEINT) * yv) AS syy,
               sum(CAST(xv AS HUGEINT) * yv) AS sxy
        FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n_days,
           round(CAST(n_days * sxy - sx * sy AS DOUBLE) /
                 sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE) *
                      CAST(n_days * syy - sy * sy AS DOUBLE)), 6) AS acf
    FROM m
"""

ORACLES["cusum_changepoint"] = """
    WITH day AS (
        SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS x
        FROM orders GROUP BY day
    ), t AS (
        SELECT CAST(sum(x) AS BIGINT) AS t, count(*) AS d FROM day
    ), c AS (
        SELECT day.day,
               CAST(sum(day.x * t.d - t.t) OVER (ORDER BY day.day)
                    AS BIGINT) AS cum,
               t.t, t.d
        FROM day, t
    ), s AS (
        SELECT CAST(max(abs(cum)) AS BIGINT) AS cusum_stat FROM c
    )
    SELECT min(c.day) AS change_day,
           s.cusum_stat,
           CAST(max(c.d) AS BIGINT) AS n_days,
           CAST(max(c.t) AS BIGINT) AS total_orders
    FROM c, s
    WHERE abs(c.cum) = s.cusum_stat
    GROUP BY s.cusum_stat
"""


# ---------------------------------------------------------------------------
# Exact-integer-moment twins. The double chains are written with the SAME op
# order as the Spark side and avoid pow() (not correctly rounded across libms)
# — only sqrt/mul/div.
# ---------------------------------------------------------------------------

ORACLES["graph_assortativity"] = """
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), und AS (
        SELECT u, v FROM edges
        UNION ALL
        SELECT v AS u, u AS v FROM edges
    ), deg AS (
        SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u
    ), e AS (
        SELECT du.d AS x, dv.d AS y
        FROM und JOIN deg du ON und.u = du.u JOIN deg dv ON und.v = dv.u
    ), m AS (
        SELECT count(*) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(y AS HUGEINT) * y) AS syy,
               sum(CAST(x AS HUGEINT) * y) AS sxy
        FROM e
    )
    SELECT n AS n_directed_edges,
           round(CAST(n * sxy - sx * sy AS DOUBLE) /
                 sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                      CAST(n * syy - sy * sy AS DOUBLE)), 6)
               AS assortativity
    FROM m
"""

ORACLES["moment_profile"] = """
    WITH base AS (
        SELECT l_returnflag,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        FROM lineitem
    ), m AS (
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(x) AS HUGEINT) AS s1,
               sum(CAST(x AS HUGEINT) * x) AS s2,
               sum(CAST(x AS HUGEINT) * x * x) AS s3,
               sum(CAST(x AS HUGEINT) * x * x * x) AS s4
        FROM base GROUP BY l_returnflag
    )
    SELECT l_returnflag, n AS n_items,
           round((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS mean_qty_c,
           round((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
                  - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                  + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                 / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                     - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                    * sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                           - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                             * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))),
                 6) AS skewness,
           round((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
                  - 4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
                  + 6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                  - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                 / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                     - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
                 - 3.0, 6) AS kurtosis_excess
    FROM m
"""

ORACLES["basket_triples"] = """
    -- chained pair->triple joins, NOT a 3-way a/b/c form: in the 3-way
    -- form b and c relate only through the inequality b.p < c.p, and the
    -- optimizer may join b x c first as a nested-loop cross (measured:
    -- >8 min at x10 vs 1.5 s for this chain, identical 2300 rows)
    WITH items AS (
        SELECT DISTINCT l_orderkey AS o, p_brand AS p
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ), pairs AS (
        SELECT a.o, a.p AS p1, b.p AS p2
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ), triples AS (
        SELECT pr.p1, pr.p2, c.p AS p3, count(*) AS support
        FROM pairs pr JOIN items c ON pr.o = c.o AND pr.p2 < c.p
        GROUP BY 1, 2, 3
    )
    SELECT p1, p2, p3, support FROM triples WHERE support >= 2
"""

ORACLES["dispersion_index"] = """
    WITH per AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(extract(hour FROM ts) AS INTEGER) AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2, 3
    ), m AS (
        SELECT event_type, count(*) AS n_buckets,
               CAST(sum(c) AS BIGINT) AS s1,
               CAST(sum(c * c) AS BIGINT) AS s2
        FROM per GROUP BY event_type
    )
    SELECT event_type, n_buckets,
           round((CAST(s1 AS DOUBLE) / CAST(n_buckets AS DOUBLE)), 6)
               AS mean_per_hour,
           round((CAST(s2 AS DOUBLE) / CAST(n_buckets AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(n_buckets AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n_buckets AS DOUBLE)))
                 / (CAST(s1 AS DOUBLE) / CAST(n_buckets AS DOUBLE)), 6)
               AS dispersion
    FROM m
"""

ORACLES["anova_weekday_revenue"] = """
    WITH day AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS rev
        FROM orders GROUP BY day
    ), wd AS (
        SELECT CAST(isodow(day) AS BIGINT) AS dow, rev FROM day
    ), g AS (
        SELECT dow, count(*) AS ng,
               CAST(sum(rev) AS HUGEINT) AS sg,
               sum(CAST(rev AS HUGEINT) * rev) AS s2g
        FROM wd GROUP BY dow
    ), tot AS (
        SELECT CAST(sum(ng) AS BIGINT) AS n,
               CAST(sum(sg) AS HUGEINT) AS s1,
               CAST(sum(s2g) AS HUGEINT) AS s2,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum((sg * sg * 1000000) // ng) AS HUGEINT)
                   AS between_scaled
        FROM g
    )
    SELECT n AS n_days, k,
           round(((CAST(between_scaled AS DOUBLE)
                   - CAST((s1 * s1 * 1000000) // n AS DOUBLE))
                  / CAST(k - 1 AS DOUBLE))
                 / ((CAST(s2 AS DOUBLE) * 1000000.0
                     - CAST(between_scaled AS DOUBLE))
                    / CAST(n - k AS DOUBLE)), 6) AS f_stat
    FROM tot
"""


# ---------------------------------------------------------------------------
# Rank-test / independence / order-statistic twins. Doubled tied ranks (2R
# always integer), per-cell integer-division chi-square ppm, k-th-smallest
# quantiles — HUGEINT exact everywhere; the one double chain (Spearman) uses
# the same op order as the Spark side, mul/div/sqrt only.
# ---------------------------------------------------------------------------

ORACLES["mannwhitney_price_priority"] = """
    WITH base AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS price_c,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS is_a
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), per AS (
        SELECT price_c,
               CAST(sum(is_a) AS BIGINT) AS c1,
               CAST(sum(1 - is_a) AS BIGINT) AS c2
        FROM base GROUP BY price_c
    ), cums AS (
        SELECT c1, c2,
               CAST(sum(c1) OVER (ORDER BY price_c) AS BIGINT) AS cum1,
               CAST(sum(c2) OVER (ORDER BY price_c) AS BIGINT) AS cum2
        FROM per
    ), agg AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c2) AS BIGINT) AS n2,
               sum(CAST(c1 AS HUGEINT)
                   * (2 * (cum1 - c1 + cum2 - c2) + (c1 + c2) + 1))
                   AS r1_doubled,
               sum(CAST(c1 + c2 AS HUGEINT) * (c1 + c2) * (c1 + c2)
                   - (c1 + c2)) AS tie_cubes
        FROM cums
    )
    SELECT n1, n2,
           CAST(r1_doubled AS BIGINT) AS r1_doubled,
           CAST(2 * CAST(n1 AS HUGEINT) * n2 + CAST(n1 AS HUGEINT) * (n1 + 1)
                - r1_doubled AS BIGINT) AS u1_doubled,
           CAST(tie_cubes AS BIGINT) AS tie_cubes
    FROM agg
"""

ORACLES["spearman_qty_price"] = """
    WITH li AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS p
        FROM lineitem
    ), qc AS (
        SELECT q, count(*) AS cq FROM li GROUP BY q
    ), qr AS (
        SELECT q,
               2 * (sum(cq) OVER (ORDER BY q) - cq) + cq + 1 AS rq2
        FROM qc
    ), pc AS (
        SELECT p, count(*) AS cp FROM li GROUP BY p
    ), pr AS (
        SELECT p,
               2 * (sum(cp) OVER (ORDER BY p) - cp) + cp + 1 AS rp2
        FROM pc
    ), r AS (
        SELECT rq2, rp2
        FROM li JOIN qr USING (q) JOIN pr USING (p)
    ), m AS (
        SELECT count(*) AS n,
               sum(CAST(rq2 AS HUGEINT)) AS sx,
               sum(CAST(rp2 AS HUGEINT)) AS sy,
               sum(CAST(rq2 AS HUGEINT) * rq2) AS sxx,
               sum(CAST(rp2 AS HUGEINT) * rp2) AS syy,
               sum(CAST(rq2 AS HUGEINT) * rp2) AS sxy
        FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_items,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
               AS spearman_rho
    FROM m
"""

ORACLES["chi2_brand_returnflag"] = """
    WITH cells AS (
        SELECT p_brand, l_returnflag, count(*) AS o
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, l_returnflag
    ), rtot AS (
        SELECT p_brand, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY p_brand
    ), ctot AS (
        SELECT l_returnflag, CAST(sum(o) AS BIGINT) AS c
        FROM cells GROUP BY l_returnflag
    ), ntot AS (
        SELECT CAST(sum(o) AS BIGINT) AS n FROM cells
    ), j AS (
        SELECT o, r, c, n
        FROM cells
        JOIN rtot USING (p_brand)
        JOIN ctot USING (l_returnflag)
        CROSS JOIN ntot
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           max(n) AS n_obs,
           CAST(sum(
               (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
               * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
               * 1000000
               // (CAST(n AS HUGEINT) * r * c)
           ) AS BIGINT) AS chi2_ppm
    FROM j
"""

ORACLES["p90_interarrival_exact"] = """
    WITH g AS (
        SELECT event_type,
               CAST(epoch_us(ts)
                    - epoch_us(lag(ts) OVER (
                          PARTITION BY user_id, event_type
                          ORDER BY ts, event_id)) AS BIGINT) // 1000000
                   AS gap_s
        FROM events
    ), gg AS (
        SELECT event_type, gap_s FROM g WHERE gap_s IS NOT NULL
    ), cen AS (
        SELECT event_type, gap_s, count(*) AS cnt
        FROM gg GROUP BY event_type, gap_s
    ), cum AS (
        SELECT event_type, gap_s,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY gap_s) AS cum
        FROM cen
    ), tot AS (
        SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
        FROM cen GROUP BY event_type
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_gaps,
           CAST(min(gap_s) AS BIGINT) AS p90_gap_s
    FROM cum JOIN tot USING (event_type)
    WHERE cum >= (9 * n + 9) // 10
    GROUP BY event_type
"""

ORACLES["runs_test_daily_revenue"] = """
    WITH day AS (
        SELECT CAST(date_diff('day', DATE '1990-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS di,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev
        FROM orders GROUP BY di
    ), vc AS (
        SELECT rev AS rev_b, count(*) AS c FROM day GROUP BY rev
    ), cum AS (
        SELECT rev_b, sum(c) OVER (ORDER BY rev_b) AS cum FROM vc
    ), n AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM day
    ), med AS (
        SELECT CAST(min(rev_b) AS BIGINT) AS median_rev
        FROM cum, n WHERE cum >= (n + 1) // 2
    ), flags AS (
        SELECT di, CAST(rev > median_rev AS INT) AS f
        FROM day, med
    ), pairs AS (
        SELECT a.di, a.f, b.f AS f_next
        FROM flags a LEFT JOIN flags b ON b.di = a.di + 1
    )
    SELECT CAST(sum(f) AS BIGINT) AS n_above,
           CAST(sum(1 - f) AS BIGINT) AS n_below,
           CAST(sum(CASE WHEN f_next IS NULL OR f_next != f
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
    FROM pairs
"""


# ---------------------------------------------------------------------------
# Kendall / Mann-Kendall / Gini / cross-correlation / z-test twins. HUGEINT
# everywhere the Spark side holds DECIMAL(38,0); each double chain copies the
# Spark expression tree verbatim (same parenthesization, one round(..., 6)).
# ---------------------------------------------------------------------------

ORACLES["kendall_tau_qty_size"] = """
    WITH cells AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CAST(p_size AS BIGINT) AS s,
               count(*) AS cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2
    ), cd AS (
        SELECT sum(CASE WHEN a.s < b.s
                        THEN CAST(a.cnt AS HUGEINT) * b.cnt
                        ELSE CAST(0 AS HUGEINT) END) AS c_pairs,
               sum(CASE WHEN a.s > b.s
                        THEN CAST(a.cnt AS HUGEINT) * b.cnt
                        ELSE CAST(0 AS HUGEINT) END) AS d_pairs
        FROM cells a JOIN cells b ON a.q < b.q
    ), tq AS (
        SELECT sum(CAST(t AS HUGEINT) * (t - 1)) AS n1_doubled,
               sum(CAST(t AS HUGEINT)) AS n
        FROM (SELECT q, sum(cnt) AS t FROM cells GROUP BY q)
    ), ts AS (
        SELECT sum(CAST(t AS HUGEINT) * (t - 1)) AS n2_doubled
        FROM (SELECT s, sum(cnt) AS t FROM cells GROUP BY s)
    )
    SELECT CAST(n AS BIGINT) AS n_items,
           CAST(c_pairs AS BIGINT) AS c_pairs,
           CAST(d_pairs AS BIGINT) AS d_pairs,
           CAST(n1_doubled AS BIGINT) AS n1_doubled,
           CAST(n2_doubled AS BIGINT) AS n2_doubled,
           round(CAST(c_pairs - d_pairs AS DOUBLE) /
                 sqrt(CAST(n * (n - 1) - n1_doubled AS DOUBLE) / 2.0 *
                      (CAST(n * (n - 1) - n2_doubled AS DOUBLE) / 2.0)), 6)
               AS tau_b
    FROM cd, tq, ts
"""

ORACLES["mann_kendall_daily_revenue"] = """
    WITH day AS (
        SELECT CAST(datediff('day', DATE '1990-01-01',
                             CAST(o_orderdate AS DATE)) AS BIGINT) AS di,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS HUGEINT) AS rev
        FROM orders GROUP BY 1
    ), s AS (
        SELECT sum(CAST(CASE WHEN b.rev > a.rev THEN 1
                             WHEN b.rev < a.rev THEN -1
                             ELSE 0 END AS BIGINT)) AS s_stat
        FROM day a JOIN day b ON a.di < b.di
    ), ties AS (
        SELECT sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS tie_term,
               CAST(sum(t) AS BIGINT) AS n_days
        FROM (SELECT rev, count(*) AS t FROM day GROUP BY rev)
    )
    SELECT n_days,
           CAST(s_stat AS BIGINT) AS s_stat,
           CAST(CAST(n_days AS HUGEINT) * (n_days - 1) * (2 * n_days + 5)
                - tie_term AS BIGINT) AS var18,
           round(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                      WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                      ELSE 0.0 END /
                 sqrt(CAST(CAST(n_days AS HUGEINT) * (n_days - 1)
                           * (2 * n_days + 5) - tie_term AS DOUBLE)
                      / 18.0), 6) AS z_stat
    FROM s, ties
"""

ORACLES["gini_by_nation"] = """
    WITH cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS HUGEINT) AS x
        FROM orders GROUP BY 1
    ), nx AS (
        SELECT c_nationkey AS nk, x
        FROM cust JOIN customer ON o_custkey = c_custkey
    ), cens AS (
        SELECT nk, x, count(*) AS cnt FROM nx GROUP BY 1, 2
    ), cum AS (
        SELECT nk, x, cnt,
               sum(cnt) OVER (PARTITION BY nk ORDER BY x) AS cumc
        FROM cens
    ), per AS (
        SELECT nk,
               CAST(sum(cnt) AS BIGINT) AS n_cust,
               sum(CAST(x AS HUGEINT) * cnt) AS sx,
               sum(CAST(x AS HUGEINT) *
                   (2 * cnt * (cumc - cnt) + cnt * (cnt + 1))) AS si2
        FROM cum GROUP BY nk
    )
    SELECT n_name, n_cust,
           CAST((si2 - (CAST(n_cust AS HUGEINT) + 1) * sx) * 1000000
                // (CAST(n_cust AS HUGEINT) * sx) AS BIGINT) AS gini_ppm
    FROM per JOIN nation ON nk = n_nationkey
"""

ORACLES["xcorr_segments_lag7"] = """
    WITH day AS (
        SELECT CAST(datediff('day', DATE '1990-01-01',
                             CAST(o_orderdate AS DATE)) AS BIGINT) AS di,
               c_mktsegment AS seg,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS HUGEINT) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY 1, 2
    ), j AS (
        SELECT b.rev AS xb, m.rev AS xm
        FROM (SELECT di, rev FROM day WHERE seg = 'BUILDING') b
        JOIN (SELECT di, rev FROM day WHERE seg = 'MACHINERY') m
          ON b.di = m.di + 7
    ), mo AS (
        SELECT count(*) AS n,
               sum(CAST(xb AS HUGEINT)) AS sx,
               sum(CAST(xm AS HUGEINT)) AS sy,
               sum(CAST(xb AS HUGEINT) * xb) AS sxx,
               sum(CAST(xm AS HUGEINT) * xm) AS syy,
               sum(CAST(xb AS HUGEINT) * xm) AS sxy
        FROM j
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           round(CAST(n * sxy - sx * sy AS DOUBLE) /
                 sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6)
               AS xcorr_lag7
    FROM mo
"""

ORACLES["ztest_promo_return_rate"] = """
    WITH m AS (
        SELECT CAST(sum(g) AS BIGINT) AS n1,
               CAST(sum(g * r) AS BIGINT) AS x1,
               CAST(sum(1 - g) AS BIGINT) AS n2,
               CAST(sum((1 - g) * r) AS BIGINT) AS x2
        FROM (
            SELECT CAST(p_type LIKE 'PROMO%' AS INT) AS g,
                   CAST(l_returnflag = 'R' AS INT) AS r
            FROM lineitem JOIN part ON l_partkey = p_partkey
        )
    )
    SELECT n1, x1, n2, x2,
           round(CAST(CAST(x1 AS HUGEINT) * n2 - CAST(x2 AS HUGEINT) * n1
                      AS DOUBLE)
                 * CAST(CAST(x1 AS HUGEINT) * n2 - CAST(x2 AS HUGEINT) * n1
                        AS DOUBLE)
                 * CAST(n1 + n2 AS DOUBLE) /
                 (CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
                  * CAST(CAST(x1 AS HUGEINT) + x2 AS DOUBLE)
                  * CAST(CAST(n1 AS HUGEINT) + n2
                         - (CAST(x1 AS HUGEINT) + x2) AS DOUBLE)), 6)
               AS z2_stat
    FROM m
"""

# ---------------------------------------------------------------------------
# Theil-Sen / kappa / divergence / Zipf / PSI / entropy twins. HUGEINT
# everywhere the Spark side holds DECIMAL(38,0); every double chain copies the
# Spark expression tree verbatim (same parenthesization, one round(..., 6) per
# emitted double).
# ---------------------------------------------------------------------------

ORACLES["theilsen_daily_revenue"] = """
    WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT)
                   AS t,
               sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                   AS rev
        FROM orders GROUP BY 1
    ), slopes AS (
        SELECT CAST(b.rev - a.rev AS DOUBLE) / CAST(b.t - a.t AS DOUBLE)
                   AS slope
        FROM daily a JOIN daily b ON a.t < b.t
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               round(quantile_cont(slope, 0.5), 6)
                   AS ts_slope_cents_per_day
        FROM slopes
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
           n_pairs, ts_slope_cents_per_day
    FROM m
"""

ORACLES["kappa_priority_return"] = """
    WITH j AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS x,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), cells AS (
        SELECT x, y, count(*) AS cnt FROM j GROUP BY x, y
    ), m AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
               CAST(sum(CASE WHEN x = y THEN cnt ELSE 0 END) AS BIGINT)
                   AS agree,
               CAST(sum(CASE WHEN x = 1 THEN cnt ELSE 0 END) AS BIGINT)
                   AS r1,
               CAST(sum(CASE WHEN y = 1 THEN cnt ELSE 0 END) AS BIGINT)
                   AS c1
        FROM cells
    )
    SELECT n AS n_items, agree,
           CAST((CAST(n AS HUGEINT) * agree
                 - (CAST(r1 AS HUGEINT) * c1
                    + CAST(n - r1 AS HUGEINT) * (n - c1))) * 1000000
                // (CAST(n AS HUGEINT) * n
                    - (CAST(r1 AS HUGEINT) * c1
                       + CAST(n - r1 AS HUGEINT) * (n - c1))) AS BIGINT)
               AS kappa_ppm,
           round(CAST(CAST(n AS HUGEINT) * agree
                      - (CAST(r1 AS HUGEINT) * c1
                         + CAST(n - r1 AS HUGEINT) * (n - c1)) AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * n
                        - (CAST(r1 AS HUGEINT) * c1
                           + CAST(n - r1 AS HUGEINT) * (n - c1)) AS DOUBLE),
                 6) AS kappa
    FROM m
"""

ORACLES["js_divergence_sources"] = """
    WITH c AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
        FROM documents GROUP BY source, lang
    ), ns AS (
        SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s FROM c GROUP BY source
    ), grid AS (
        SELECT ns.source, l.lang, ns.n_s,
               CAST(coalesce(c.cnt, 0) AS BIGINT) AS k
        FROM ns CROSS JOIN (SELECT DISTINCT lang FROM c) l
        LEFT JOIN c ON c.source = ns.source AND c.lang = l.lang
    )
    SELECT a.source AS source_a, b.source AS source_b,
           max(a.n_s) AS n_a, max(b.n_s) AS n_b,
           round(0.5 * sum(
               CASE WHEN a.k > 0 THEN
                   (CAST(a.k AS DOUBLE) / CAST(a.n_s AS DOUBLE))
                   * ln((CAST(a.k AS DOUBLE) / CAST(a.n_s AS DOUBLE)) * 2.0
                        / ((CAST(a.k AS DOUBLE) / CAST(a.n_s AS DOUBLE))
                           + (CAST(b.k AS DOUBLE) / CAST(b.n_s AS DOUBLE))))
               ELSE 0.0 END
               + CASE WHEN b.k > 0 THEN
                   (CAST(b.k AS DOUBLE) / CAST(b.n_s AS DOUBLE))
                   * ln((CAST(b.k AS DOUBLE) / CAST(b.n_s AS DOUBLE)) * 2.0
                        / ((CAST(a.k AS DOUBLE) / CAST(a.n_s AS DOUBLE))
                           + (CAST(b.k AS DOUBLE) / CAST(b.n_s AS DOUBLE))))
               ELSE 0.0 END), 6) AS js_nats
    FROM grid a JOIN grid b
      ON a.lang = b.lang AND a.source < b.source
    GROUP BY a.source, b.source
"""

ORACLES["zipf_slope_vocab"] = """
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), cnt AS (
        SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token
    ), top AS (
        SELECT token, cnt FROM cnt ORDER BY cnt DESC, token LIMIT 1000
    ), ranked AS (
        SELECT cnt AS ca,
               CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
                   AS rank
        FROM top
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_terms,
               sum(ln(CAST(rank AS DOUBLE))) AS sx,
               sum(ln(CAST(ca AS DOUBLE))) AS sy,
               sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(ca AS DOUBLE))) AS sxy,
               sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))) AS sxx
        FROM ranked
    )
    SELECT n_terms,
           round((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n_terms AS DOUBLE) * sxx - sx * sx), 6)
               AS zipf_slope
    FROM m
"""

ORACLES["psi_price_drift"] = """
    WITH o AS (
        SELECT year(o_orderdate) AS yr,
               CAST(length(bin(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                    AS BIGINT))) AS BIGINT) AS bucket
        FROM orders WHERE year(o_orderdate) IN (1997, 1998)
    ), census AS (
        SELECT bucket,
               CAST(sum(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(sum(CASE WHEN yr = 1998 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b
        FROM o GROUP BY bucket
    ), tot AS (
        SELECT CAST(sum(n_a) AS BIGINT) AS ta,
               CAST(sum(n_b) AS BIGINT) AS tb
        FROM census
    )
    SELECT bucket, n_a, n_b,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
               round(((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE))
                      - (CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)))
                     * ln((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE))
                          / (CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))), 6)
           END AS psi_term
    FROM census CROSS JOIN tot
"""

ORACLES["entropy_by_source"] = """
    WITH c AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS k
        FROM documents GROUP BY source, lang
    ), ns AS (
        SELECT source, CAST(sum(k) AS BIGINT) AS n FROM c GROUP BY source
    )
    SELECT c.source,
           max(ns.n) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_langs,
           CAST(sum(CAST(c.k AS HUGEINT) * (c.k - 1)) * 1000000
                // (CAST(max(ns.n) AS HUGEINT) * (max(ns.n) - 1)) AS BIGINT)
               AS simpson_ppm,
           round(-sum((CAST(c.k AS DOUBLE) / CAST(ns.n AS DOUBLE))
                      * ln(CAST(c.k AS DOUBLE) / CAST(ns.n AS DOUBLE))), 6)
               AS entropy_nats
    FROM c JOIN ns ON c.source = ns.source
    GROUP BY c.source
"""
