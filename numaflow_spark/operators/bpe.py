"""Byte-pair-encoding trainer and encoder (Sennrich, Haddow & Birch, ACL
2016) on the aggregated word-frequency table — the standard scale trick:
BPE statistics depend only on (word, freq), so the corpus collapses to its
vocabulary ONCE (one shuffle, |corpus| -> |vocab|) and every merge
iteration is a transform over the tiny vocab table, never the corpus.

Per iteration:
  1. adjacent symbol pairs explode off the vocab arrays, weighted by word
     frequency; one partial-aggregated groupBy finds the top pair with a
     deterministic (count desc, pair asc) tie-break;
  2. the winning pair — a single row — is collected (the only driver data
     in the loop, N rows total for N merges) and applied to every word as
     a greedy left-to-right non-overlapping fold over its symbol array,
     expressed in Spark SQL `aggregate(...)` so the merge itself runs in
     the JVM with no Python workers.

At 100 TB the vocab table is ~1e6-1e8 rows; N merge rounds cost N tiny
shuffles + N map passes over it. Encoding new text replays the merge list
in order (`encode_words`), again as JVM-side folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _sql_quote(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _merge_expr(col: str, a: str, b: str) -> str:
    """SQL expression applying one BPE merge (a, b) -> a||b to a symbol
    array, greedy left-to-right non-overlapping: fold symbols into an
    accumulator, merging when the accumulator's tail is `a` (and was not
    itself just produced by this merge — the fold's replace-last semantics
    give exactly the greedy-LTR result)."""
    qa, qb, qab = _sql_quote(a), _sql_quote(b), _sql_quote(a + b)
    return (
        f"aggregate({col}, cast(array() as array<string>), (acc, s) -> "
        f"IF(size(acc) > 0 AND element_at(acc, -1) = {qa} AND s = {qb}, "
        f"concat(slice(acc, 1, size(acc) - 1), array({qab})), "
        f"concat(acc, array(s))))"
    )


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq): the corpus collapsed to its vocabulary — the ONLY
    corpus-sized pass in BPE training."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def train_bpe(
    vocab: DataFrame,
    n_merges: int,
    word_col: str = "word",
    freq_col: str = "freq",
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merges from a (word, freq) table. Returns the
    ordered merge list and the final symbolized vocab (word, freq, syms).
    Lineage is cut each round so the plan stays flat; set
    ``spark.numaflow_spark.checkpoint.dir`` to make the cut durable at
    cluster scale (operators/graph.py::cut_lineage)."""
    from numaflow_spark.operators.graph import AQE, cut_lineage, scoped_conf

    # EAGER checkpoints (r14 revert of the r13 lazy probe-fusion variant):
    # lazy rounds saved ~8 jobs/query on an idle host, but the driver
    # measured bpe_merges 1.9 -> 4.2 s at 32 cores with a 0.38 scaling
    # ratio (faster at 8 cores than 32) — the same contended-host
    # anti-scaling family as the CC loops. Eager is the r12 form the
    # driver measured healthy; adjudicated cold (tools/coldq_device_revert
    # .json).
    syms = cut_lineage(
        vocab.select(
            word_col,
            freq_col,
            F.split(F.col(word_col), "(?s)(?!^)(?=.)").alias("syms"),  # chars;
            # the lookahead keeps Spark's trailing-empty split artifact out
        ),
        eager=True,
    )
    merges: list[tuple[str, str]] = []
    # The merge rounds are the iterative-loop AQE regime
    # (graph.py::sized_loop_conf rationale): per-round inputs are
    # materialized RDDs, adaptive re-plans are pure job floor (18 -> 9
    # jobs, 2.10 -> 1.89 s at sf0.1).
    with scoped_conf(vocab.sparkSession, {AQE: "false"}):
        for _ in range(n_merges):
            pairs = (
                syms.filter(F.size("syms") >= 2)  # sequence(1,0) = [1,0]
                .select(
                    F.col(freq_col).alias("freq"),
                    F.explode(
                        F.expr(
                            "transform(sequence(1, size(syms) - 1), "
                            "i -> struct(element_at(syms, i) AS a, element_at(syms, i+1) AS b))"
                        )
                    ).alias("p"),
                )
            )
            best = (
                pairs.groupBy("p.a", "p.b")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
                .limit(1)
                .collect()
            )
            if not best or best[0]["cnt"] <= 0:
                break
            a, b = best[0]["a"], best[0]["b"]
            merges.append((a, b))
            syms = cut_lineage(
                syms.withColumn("syms", F.expr(_merge_expr("syms", a, b))),
                eager=True,
            )
    return merges, syms


def encode_words(
    words: DataFrame, merges: list[tuple[str, str]], word_col: str = "word"
) -> DataFrame:
    """Apply a learned merge list (in training order) to a table of words:
    adds a ``tokens`` array<string> column. Each merge is one JVM-side
    fold; the expression chain is linear in len(merges)."""
    out = words.withColumn("tokens", F.split(F.col(word_col), "(?s)(?!^)(?=.)"))
    for a, b in merges:
        out = out.withColumn("tokens", F.expr(_merge_expr("tokens", a, b)))
    return out
