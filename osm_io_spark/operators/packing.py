"""Training-sequence packing: concatenate the token stream of an
ordered corpus and cut it into fixed-length sequences.

The standard LM-pretraining data layout (GPT-style "packed" batches):
documents are laid end-to-end in a canonical order and the stream is
sliced every ``seq_len`` tokens, so every training sequence is exactly
full and a document may straddle a sequence boundary. The operator
emits one row per (document, sequence) OVERLAP — the exact slice plan a
writer needs to materialize packed sequences without ever shuffling
token-level rows:

  doc_id      the document
  n_tokens    its whitespace token count
  seq_id      0-based index of a training sequence the doc lands in
  tok_start   0-based first token of the doc inside this sequence
  tok_len     how many of the doc's tokens fall in this sequence
  seq_offset  0-based position within the sequence where they start

Scale design: the only global step is the exclusive prefix sum of
token counts under ORDER BY doc_id — delegated to
``order.with_running_total`` (range shuffle + per-partition partial
sums + Arrow cumsum; no single-task window). Everything after is
per-row Column arithmetic plus an explode whose fan-out is
1 + ⌊n_tokens/seq_len⌋ per doc, i.e. output ≈ total_tokens/seq_len
extra rows — linear in corpus size. No reference counterpart
(osm-io has no training-data surface); the layout matches the widely
published packed-pretraining format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .order import with_running_total


def pack_sequences(docs: DataFrame, seq_len: int,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Slice the corpus token stream (ORDER BY id_col) into
    ``seq_len``-token sequences; one output row per (doc, seq) overlap.

    Zero-token documents (empty text) are dropped from the stream —
    they occupy no tokens, so they appear in no sequence. The token
    definition matches textops.token_count (whitespace split), so the
    same budget reconciles across the registry.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    toks = F.when(F.col(text_col) == "", F.lit(0)) \
        .otherwise(F.size(F.split(F.col(text_col), " "))).cast("long")
    counted = (docs.select(F.col(id_col), toks.alias("n_tokens"))
               .filter(F.col("n_tokens") > 0))
    cum = with_running_total(counted, [id_col], "n_tokens",
                             out_col="_cum_before")
    # integer DIV, not float division: the cumulative token count of a
    # 100 TB corpus exceeds 2^53 and double division would mis-floor
    first = F.expr(f"_cum_before DIV {seq_len}")
    last = F.expr(f"(_cum_before + n_tokens - 1) DIV {seq_len}")
    out = (cum
           .withColumn("seq_id", F.explode(F.sequence(first, last)))
           .withColumn("tok_start", F.greatest(
               F.lit(0).cast("long"),
               F.col("seq_id") * seq_len - F.col("_cum_before")))
           .withColumn("tok_len", F.least(
               F.col("n_tokens"),
               (F.col("seq_id") + 1) * seq_len - F.col("_cum_before"))
               - F.col("tok_start"))
           .withColumn("seq_offset", F.greatest(
               F.lit(0).cast("long"),
               F.col("_cum_before") - F.col("seq_id") * seq_len)))
    return out.select(id_col, "n_tokens", "seq_id", "tok_start",
                      "tok_len", "seq_offset")
