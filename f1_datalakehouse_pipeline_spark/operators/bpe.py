"""BPE (byte-pair-encoding) subword encoding with a pinned merge list.

The missing piece between the whitespace/vocab-id token surface
(functions/text.encode_token_ids, VERDICT r4 item 8) and what an LLM
training pipeline actually ships: learned SUBWORD units. Everything here is
Spark-first and UDF-free — the merge operation itself is a native string
``replace`` on a separator-framed symbol string, with semantics proven
identical to greedy left-to-right BPE (and bit-identical in DuckDB, so the
encode path is oracle-testable).

The merge lists are pinned (``bpe_model_corpus.MERGES_1K``; the tests
learn theirs with the single-process :func:`py_bpe_train`), so the engine
ships the encoder only:

- **Encoding joins, it never re-derives.** ``bpe_word_table`` applies the
  learned merges once to the distinct-word table (chunked projections,
  lineage cut between chunks, never an unbounded expression tree);
  ``bpe_encode_with_table`` then joins corpus tokens against it — encode
  cost at scale is one vocabulary-sized join, with unseen words falling
  back to characters plus a disclosed ``oov`` flag. For bounded merge lists
  (a few hundred) ``bpe_pieces_expr`` inlines the whole encoder as ONE
  native expression — zero joins, zero shuffles, and the form the DuckDB
  oracle mirrors replace-for-replace.

The merge mechanics: a word's symbol sequence [s1, s2, ...] is framed as
``\\x1e s1 \\x1e \\x1e s2 \\x1e ...`` — every symbol wrapped in its own
separator pair. Merging (a, b) is then ``replace(s, '\\x1e a \\x1e\\x1e b
\\x1e', '\\x1e ab \\x1e')``: each occurrence consumes its own frame so
adjacent matches both fire ("abab" -> [ab, ab]) while overlapping ones
don't ("aaa" + (a,a) -> [aa, a]) — exactly greedy left-to-right BPE. JVM
``replace`` and DuckDB ``replace`` share this non-overlapping
scan-past-the-replacement contract (verified in tests).

No counterpart exists in the reference repo (its tokenization surface is
whitespace splitting inside Python UDFs, e.g. silver transforms); this
module is part of the beyond-reference training-data mandate.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F

from f1_datalakehouse_pipeline_spark.functions.text import tokens

#: Symbol-frame separator. Any input word containing it would corrupt the
#: frame, so the word table and encoders FILTER such words out loudly (they
#: do not silently mis-merge); U+001E is the ASCII record separator and does
#: not occur in natural-language corpora.
SEP = "\x1e"


@dataclass(frozen=True)
class BpeModel:
    """An ordered merge list. ``merges[i]`` was learned at step i; encoding
    must apply them in this order (each ``replace`` is order-sensitive)."""

    merges: tuple[tuple[str, str], ...] = field(default_factory=tuple)

    @property
    def vocab(self) -> tuple[str, ...]:
        """Merged symbols in learn order (characters are implicit)."""
        return tuple(a + b for a, b in self.merges)


# --------------------------------------------------------------------------
# native-expression building blocks
# --------------------------------------------------------------------------


def _framed(word: Column) -> Column:
    """word -> '\\x1ec1\\x1e\\x1ec2\\x1e...' (each char in its own frame)."""
    chars = F.filter(F.split(word, ""), lambda c: c != "")
    return F.concat(F.lit(SEP), F.array_join(chars, SEP + SEP), F.lit(SEP))


def _apply_merges(sym: Column, merges: tuple[tuple[str, str], ...]) -> Column:
    """Chain one native ``replace`` per merge, in learn order."""
    for a, b in merges:
        sym = F.replace(sym, F.lit(SEP + a + SEP + SEP + b + SEP), F.lit(SEP + a + b + SEP))
    return sym


def _unframed(sym: Column) -> Column:
    """Framed symbol string -> array<string> of symbols."""
    return F.filter(F.split(sym, SEP), lambda s: s != "")


def bpe_pieces_expr(word: Column, model: BpeModel) -> Column:
    """Encode ONE word column to its BPE pieces as a pure native expression
    (array<string>): frame to characters, chain the learned replaces, split
    back. Expression depth is len(merges) — fine for bounded merge lists
    (the oracle query uses this form); for full-size vocabularies use
    :func:`bpe_word_table` + :func:`bpe_encode_with_table`, which pay the
    depth ONCE on the distinct-word table instead of inlining it into every
    downstream plan."""
    return _unframed(_apply_merges(_framed(word), model.merges))


# --------------------------------------------------------------------------
# word table
# --------------------------------------------------------------------------


def word_frequency_table(df: DataFrame, text_col: str) -> DataFrame:
    """One corpus pass -> (word, cnt) distinct-word table. Words containing
    the frame separator are dropped (disclosed contract — see SEP)."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(~F.col("word").contains(SEP))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# --------------------------------------------------------------------------
# encoders
# --------------------------------------------------------------------------

# Replaces per projection when materializing the word table. Swept by
# interleaved A/B at sf0.1 (r11 optimization round): 128 beats 64 in all 3
# interleaved rounds (medians 4.17/3.06/2.87 vs 4.69/3.94/3.01 s on
# t_bpe_table_encode — half the sequential localCheckpoint round-trips),
# while 256 is a wash (analysis cost of the deeper replace chain catches
# up). Chunking is evaluation structure only: merges apply in model order
# regardless of chunk boundaries, so results are identical by construction
# (and oracle-verified).
_CHUNK = 128


def bpe_word_table(
    words: DataFrame, model: BpeModel, *, engine: str = "arrow"
) -> DataFrame:
    """(word, ...) -> (word, pieces array<string>): the learned merges
    applied to the distinct-word table — total work O(|vocab| * merges)
    paid ONCE, never inlined into corpus-sized plans.

    ``engine`` picks the merge-chain evaluator (r12, guide §4.2; both are
    bit-equal — same framed-replace semantics — and property/oracle-tested):

    - ``"arrow"`` (default): ONE ``mapInArrow`` pass whose task applies the
      whole merge list via ``pyarrow.compute.replace_substring`` — C-speed
      vectorized scans over whole Arrow batches, zero localCheckpoint
      round-trips, O(1) plan size. Framing/unframing stay native JVM
      expressions on either side, so only (word, sym) strings cross the
      Python boundary, as Arrow batches.
    - ``"chain"``: the pre-r12 chunked JVM ``replace`` chain — _CHUNK merges
      per projection with a lineage cut between chunks (len(merges)/_CHUNK
      sequential driver round-trips). Kept as the zero-Python-worker form
      and as the A/B baseline.
    """
    out = words.select("word").distinct().filter(~F.col("word").contains(SEP))
    out = out.withColumn("sym", _framed(F.col("word")))
    ms = model.merges
    if engine == "arrow":
        out = _rewrite_syms_arrow(out, ms)
    elif engine == "chain":
        for i in range(0, len(ms), _CHUNK):
            out = out.withColumn("sym", _apply_merges(F.col("sym"), ms[i : i + _CHUNK]))
            out = out.localCheckpoint(eager=True)
    else:
        raise ValueError(f"unknown bpe_word_table engine {engine!r}")
    return out.select("word", _unframed(F.col("sym")).alias("pieces"))


def _rewrite_syms_arrow(
    framed: DataFrame, merges: tuple[tuple[str, str], ...]
) -> DataFrame:
    """Apply the merge list to a ``(word, sym)`` framed-symbol table in one
    Arrow pass: each task walks the merges in model order, each merge one
    vectorized ``pyarrow.compute.replace_substring`` over the whole batch.
    ``replace_substring`` replaces non-overlapping occurrences left-to-right
    scanning past each replacement — the same contract as JVM/DuckDB
    ``replace`` the chain evaluator and the oracle rely on (pinned by
    ``test_bpe_word_table_arrow_matches_chain``)."""
    if not merges:
        return framed
    # capture plain tuples, not the model object, so the task closure stays
    # tiny and picklable
    pats = [(SEP + a + SEP + SEP + b + SEP, SEP + a + b + SEP) for a, b in merges]

    def rewrite(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            if batch.num_rows == 0:
                continue
            sym = batch.column("sym")
            for pat, rep in pats:
                sym = pc.replace_substring(sym, pattern=pat, replacement=rep)
            yield pa.RecordBatch.from_arrays(
                [batch.column("word"), sym], names=["word", "sym"]
            )

    return framed.select("word", "sym").mapInArrow(rewrite, "word string, sym string")


def bpe_encode_with_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    word_table: DataFrame,
    *,
    broadcast: bool = True,
) -> DataFrame:
    """Corpus-scale encode: tokenize -> posexplode -> join the word table.
    Long-form output (id, word_idx, piece_idx, piece, oov) — the shard-ready
    layout (same convention as t_token_ids); no per-document reassembly
    shuffle unless the caller asks for one. Unseen words fall back to
    character pieces with ``oov = true`` (loud, not silent). ``broadcast``
    suits vocabulary-sized tables; set False to let AQE pick a shuffle join
    for 100M-word vocabularies."""
    wt = word_table.select("word", "pieces")
    if broadcast:
        wt = F.broadcast(wt)
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("word_idx", "word"),
    ).filter(~F.col("word").contains(SEP))
    joined = toks.join(wt, "word", "left")
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != "")
    return joined.select(
        F.col(id_col),
        "word_idx",
        F.posexplode(F.coalesce(F.col("pieces"), chars)).alias(
            "piece_idx", "piece"
        ),
        F.col("pieces").isNull().alias("oov"),
    ).select(id_col, "word_idx", "piece_idx", "piece", "oov")


# --------------------------------------------------------------------------
# single-process reference (tests only — NOT a Spark path)
# --------------------------------------------------------------------------


def py_bpe_train(
    word_counts: dict[str, int], num_merges: int, min_count: int = 2
) -> list[tuple[str, str]]:
    """Textbook sequential BPE on a word->count dict (tie-break: count
    desc, then pair lexical); the encoder tests learn their merges with
    it."""
    syms = {w: list(w) for w in word_counts}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, ss in syms.items():
            c = word_counts[w]
            for i in range(len(ss) - 1):
                counts[(ss[i], ss[i + 1])] = counts.get((ss[i], ss[i + 1]), 0) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_count:
            break
        (a, b), _ = best
        merges.append((a, b))
        for w, ss in syms.items():
            out, i = [], 0
            while i < len(ss):
                if i + 1 < len(ss) and ss[i] == a and ss[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(ss[i])
                    i += 1
            syms[w] = out
    return merges


def py_bpe_encode(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Apply merges in learn order (greedy left-to-right per merge)."""
    ss = list(word)
    for a, b in merges:
        out, i = [], 0
        while i < len(ss):
            if i + 1 < len(ss) and ss[i] == a and ss[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(ss[i])
                i += 1
        ss = out
    return ss
