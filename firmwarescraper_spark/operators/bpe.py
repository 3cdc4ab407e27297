"""Distributed BPE tokenizer training: corpus → word-frequency table →
iterative merge learning, the way industrial trainers scale it.

The classic scaling move (SentencePiece, HuggingFace tokenizers) is that
BPE never iterates over the corpus: ONE tokenizing scan + ONE map-side-
combined groupBy reduces 10^10 documents to a vocab-sized word-frequency
table (bounded further by ``min_freq``, which drops the hapax tail), and
every merge iteration then runs on that small table only. Re-expressed
Spark-first:

* ``word_freqs`` — the only corpus-proportional stage. Tokenization is
  the oracle-proven lower/``[^a-z0-9]+`` split shared with
  :mod:`operators.sketches` / ``textops._bm25_tokens``; the shuffle
  carries (word, partial-count) pairs, hot words combine map-side.
* ``pair_counts`` — adjacent-symbol pair frequencies weighted by word
  frequency. Pure higher-order column functions (``transform`` /
  ``explode``) over the vocab table: whole-stage codegen, no Python.
* ``bpe_learn`` — the merge loop. Each iteration computes pair counts
  over the vocab table, takes the 1-row argmax (deterministic
  tie-break: count DESC, then left, right ASC — so reruns and engines
  agree), and rewrites the symbol arrays with a left-to-right
  non-overlapping fold (``F.aggregate``, JVM-side). Driver traffic is
  ONE row per merge; lineage over the iterated vocab table is bounded
  by ``localCheckpoint`` every ``checkpoint_every`` merges (the same
  truncation pattern as the robots state in plans/crawl.py).

At 10^10 documents the vocab table after a realistic ``min_freq`` floor
is 10^6–10^7 rows — megabytes per merge iteration, so the M-merge loop
is driver-bounded at M round-trips regardless of corpus size, and the
corpus itself is touched exactly once.

Reference anchor: the reference repo tokenizes page text only for
keyword matching (firmware/spiders/*.py parse rules); BPE training is
one of the beyond-reference training-data operators mandated by the
build brief (SURVEY.md §6 "beyond the reference" list: token counting /
text analysis family — this is the trainer those token counts feed).

Determinism contract (shared with operators/dedup.py / sketches.py):
no RNG anywhere — argmax ties break lexicographically, so the merge
sequence is a pure function of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END = "</w>"


def _tokens(text: Column) -> Column:
    """Lower-cased alphanumeric tokens, empties dropped — the exact
    tokenization the BM25 / CMS oracles already prove cross-engine."""
    return F.filter(F.split(F.lower(text), r"[^a-z0-9]+"), lambda t: t != "")


def word_freqs(
    df: DataFrame, text_col: str = "text", min_freq: int = 1
) -> DataFrame:
    """(word, freq): the corpus→vocab reduction. The ONLY stage whose
    cost is proportional to the corpus: one scan + one map-side-combined
    shuffle of (word, count) pairs. ``min_freq`` floors the tail so the
    iterated table stays bounded (hapax words cannot win a merge that
    matters at web scale anyway)."""
    w = df.select(F.explode(_tokens(F.col(text_col))).alias("word"))
    out = w.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    if min_freq > 1:
        out = out.filter(F.col("freq") >= min_freq)
    return out


def word_symbols(word: Column) -> Column:
    """Initial symbol array for a word: its characters plus the ``</w>``
    end-of-word marker (so merges can learn suffixes). Pure higher-order
    functions — codegen'd, vocab-table-sized."""
    # zero-width split at every boundary except start; Spark's split uses
    # limit=-1 so the terminal zero-width match yields a trailing "" —
    # dropped (symbols are never empty; "" is the fold's sentinel)
    chars = F.filter(F.split(word, "(?!^)"), lambda c: c != "")
    return F.concat(chars, F.array(F.lit(END)))


def pair_counts(vocab: DataFrame) -> DataFrame:
    """(left, right, cnt) adjacent-symbol pair frequencies over a vocab
    table carrying ``syms: array<string>`` and ``freq``. transform +
    explode + one groupBy of at-most-|pairs| keys — map-side combined,
    never corpus-sized."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("syms") - 1),
        lambda i: F.struct(
            F.element_at("syms", i).alias("left"),
            F.element_at("syms", i + 1).alias("right"),
        ),
    )
    return (
        vocab.select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("freq").alias("cnt"))
    )


def merge_symbols(syms: Column, left: str, right: str) -> Column:
    """Replace non-overlapping adjacent (left, right) with left||right,
    left-to-right — the classic BPE apply step — as a single JVM-side
    ``F.aggregate`` fold. State is (acc array, pending symbol); '' is a
    safe no-pending sentinel because symbols are never empty."""
    merged = left + right

    def step(st, s):
        hit = (st["p"] == left) & (s == right)
        return F.struct(
            F.when(hit, F.concat(st["acc"], F.array(F.lit(merged))))
            .otherwise(
                F.when(st["p"] == "", st["acc"])
                .otherwise(F.concat(st["acc"], F.array(st["p"])))
            )
            .alias("acc"),
            F.when(hit, F.lit("")).otherwise(s).alias("p"),
        )

    init = F.struct(
        F.array().cast("array<string>").alias("acc"), F.lit("").alias("p")
    )
    return F.aggregate(
        syms,
        init,
        step,
        lambda st: F.when(st["p"] == "", st["acc"]).otherwise(
            F.concat(st["acc"], F.array(st["p"]))
        ),
    )


def bpe_learn(
    df: DataFrame,
    merges: int,
    text_col: str = "text",
    min_freq: int = 1,
    checkpoint_every: int = 4,
) -> list:
    """Learn ``merges`` BPE merge rules; returns
    ``[(rank, left, right, merged, cnt), ...]`` (rank is 1-based).

    Driver cost: ONE 1-row collect per merge (the argmax). Executor
    cost per merge: a vocab-table-sized pair count + array rewrite.
    The corpus is scanned exactly once (inside :func:`word_freqs`).
    Ties break (cnt DESC, left ASC, right ASC) so the learned merge
    table is deterministic and engine-independent.
    """
    vocab = (
        word_freqs(df, text_col, min_freq)
        .withColumn("syms", word_symbols(F.col("word")))
        .select("syms", "freq")
        .localCheckpoint()  # truncate the corpus lineage before iterating
    )
    learned = []
    for rank in range(1, merges + 1):
        best = (
            pair_counts(vocab)
            .orderBy(F.col("cnt").desc(), "left", "right")
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] <= 0:
            break
        left, right, cnt = best[0]["left"], best[0]["right"], int(best[0]["cnt"])
        learned.append((rank, left, right, left + right, cnt))
        vocab = vocab.withColumn(
            "syms", merge_symbols(F.col("syms"), left, right)
        )
        if rank % checkpoint_every == 0:
            # bound lineage growth over long merge schedules — the same
            # pattern plans/crawl.py uses for its robots state
            vocab = vocab.localCheckpoint()
    return learned


def bpe_reference(word_freq: dict, merges: int) -> list:
    """Pure-Python reference BPE (test parity target; small inputs
    only). Same tie-break, same end-marker convention."""
    vocab = {tuple(list(w) + [END]): f for w, f in word_freq.items()}
    learned = []
    for rank in range(1, merges + 1):
        counts = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        learned.append((rank, left, right, left + right, cnt))
        new_vocab = {}
        for syms, f in vocab.items():
            out, pending = [], None
            for s in syms:
                if pending == left and s == right:
                    out.append(left + right)
                    pending = None
                else:
                    if pending is not None:
                        out.append(pending)
                    pending = s
            if pending is not None:
                out.append(pending)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return learned


def pair_counts_oracle_sql(
    table: str = "documents", text_col: str = "text",
    where: str = "", k: int = 50,
) -> str:
    """DuckDB replay of word_freqs → initial-symbol pair_counts → top-k
    (the first BPE iteration's argmax table, which is the whole
    data-dependent core — later iterations differ only by the applied
    merges). Same tokenization, same ``</w>`` convention, same
    deterministic (cnt DESC, left, right) order."""
    return f"""
        WITH words AS (
            SELECT w AS word, count(*)::BIGINT AS freq FROM (
                SELECT unnest(regexp_split_to_array(lower({text_col}),
                                                    '[^a-z0-9]+')) AS w
                FROM {table} {where}
            ) WHERE w <> '' GROUP BY w
        ), pos AS (
            SELECT word, freq,
                   unnest(range(1, length(word) + 1)) AS i
            FROM words
        ), pairs AS (
            SELECT substr(word, i::INT, 1) AS left_sym,
                   CASE WHEN i = length(word) THEN '{END}'
                        ELSE substr(word, i::INT + 1, 1) END AS right_sym,
                   freq
            FROM pos
        )
        SELECT left_sym, right_sym, sum(freq)::BIGINT AS cnt
        FROM pairs GROUP BY left_sym, right_sym
        ORDER BY cnt DESC, left_sym, right_sym LIMIT {k}
    """


def apply_merges(syms: Column, merges) -> Column:
    """Fold a learned merge table over one symbol array, in rank order —
    each rule via :func:`merge_symbols` (left-to-right, non-overlapping).
    ``merges`` is ``[(left, right), ...]`` or the 5-tuples
    :func:`bpe_learn` returns."""
    out = syms
    for m in merges:
        left, right = (m[1], m[2]) if len(m) >= 4 else (m[0], m[1])
        out = merge_symbols(out, left, right)
    return out


def bpe_encode(
    df: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
    via: str = "join",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Apply a learned merge table corpus-wide — the tokenization step
    that turns curated documents into model input. Returns
    ``(id_col, token_str, n_tokens)`` where ``token_str`` is the
    subword sequence joined by single spaces (order-preserving).

    Two shapes, same result (pinned equal by tests/test_bpe.py):

    * ``via="join"`` (default — the industrial/large-M shape): the merge
      fold runs once per DISTINCT word on a vocab-sized table (a plain
      DataFrame loop, ``localCheckpoint`` every ``checkpoint_every``
      rules bounding lineage exactly like :func:`bpe_learn`), then a
      broadcast join maps every corpus token to its encoded form and a
      doc-keyed regroup restores order. The corpus is scanned once and
      shuffles only (id, pos, word) — never the text — and the M-rule
      fold cost is paid |vocab| times, not |corpus| times. This is how
      fast tokenizers amortize a 30k-merge table.
    * ``via="inline"``: the fold is inlined per token occurrence as one
      scan-fused column expression — ZERO shuffle, but the Catalyst
      expression tree grows with M, so it is the small-M path (gates,
      probes, oracles), not the 30k-merge path.

    No RNG, no Python rows: both paths are higher-order column
    functions end to end, so reruns and engines agree exactly."""
    toks = _tokens(F.col(text_col))
    if via == "inline":
        enc = F.flatten(
            F.transform(toks, lambda w: apply_merges(word_symbols(w), merges))
        )
        return df.select(
            F.col(id_col),
            F.array_join(enc, " ").alias("token_str"),
            F.size(enc).cast("bigint").alias("n_tokens"),
        )
    words = df.select(F.col(id_col), toks.alias("words"))
    vocab = (
        words.select(F.explode("words").alias("word"))
        .distinct()
        .withColumn("syms", word_symbols(F.col("word")))
    )
    count = 0
    for m in merges:
        left, right = (m[1], m[2]) if len(m) >= 4 else (m[0], m[1])
        vocab = vocab.withColumn(
            "syms", merge_symbols(F.col("syms"), left, right)
        )
        count += 1
        if count % checkpoint_every == 0:
            vocab = vocab.localCheckpoint()
    pos = words.select(
        F.col(id_col), F.posexplode_outer("words").alias("pos", "word")
    )
    enc = pos.join(F.broadcast(vocab), "word", "left")
    per_doc = (
        enc.groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("word").isNotNull(),
                                F.struct(F.col("pos"), F.col("syms")),
                            )
                        )
                    ),
                    lambda s: s["syms"],
                )
            ).alias("tokens")
        )
    )
    return per_doc.select(
        F.col(id_col),
        F.array_join("tokens", " ").alias("token_str"),
        F.size("tokens").cast("bigint").alias("n_tokens"),
    )


def encode_oracle_sql(
    merges,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    where: str = "",
) -> str:
    """DuckDB replay of :func:`bpe_encode` for a FIXED merge table, as
    nested scalar functions — no per-word ordinality needed. Each symbol
    is carried as ``|sym|`` (symbols are alnum or ``</w>``, so ``|``
    never collides), words separated by a space no pattern contains;
    SQL ``replace`` is left-to-right non-overlapping over that encoding,
    which is exactly the :func:`merge_symbols` fold semantics."""
    wrapped = (
        f"regexp_replace(trim(regexp_replace(lower({text_col}), "
        "'[^a-z0-9]+', ' ', 'g')), '(.)', '|\\1|', 'g')"
    )
    s = f"replace({wrapped}, '| |', '|{END}| ') || '|{END}|'"
    for m in merges:
        left, right = (m[1], m[2]) if len(m) >= 4 else (m[0], m[1])
        s = f"replace({s}, '|{left}||{right}|', '|{left}{right}|')"
    s = f"trim(replace(replace({s}, '||', ' '), '| |', ' '), '|')"
    return f"""
        SELECT {id_col},
               CASE WHEN length(trim(regexp_replace(lower({text_col}),
                        '[^a-z0-9]+', ' ', 'g'))) = 0
                    THEN '' ELSE {s} END AS token_str,
               CASE WHEN length(trim(regexp_replace(lower({text_col}),
                        '[^a-z0-9]+', ' ', 'g'))) = 0
                    THEN 0 ELSE length(string_split({s}, ' ')) END::BIGINT
                   AS n_tokens
        FROM {table} {where}
        ORDER BY {id_col}
    """


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", k: int = 50, min_freq: int = 1
) -> DataFrame:
    """Driver-contract query: top-k adjacent-symbol pairs of the initial
    vocab (columns left_sym, right_sym, cnt) — the argmax table the
    first merge reads. Deterministic total order so the DuckDB oracle
    hash-matches row-for-row."""
    vocab = word_freqs(df, text_col, min_freq).withColumn(
        "syms", word_symbols(F.col("word"))
    )
    return (
        pair_counts(vocab)
        .select(
            F.col("left").alias("left_sym"),
            F.col("right").alias("right_sym"),
            "cnt",
        )
        .orderBy(F.col("cnt").desc(), "left_sym", "right_sym")
        .limit(k)
    )
