"""Document chunking: split long documents into fixed token-budget
training chunks with overlap.

The step between cleaning and packing in a pretraining data pipeline:
documents longer than the model context are SPLIT into windows of
``chunk_tokens`` whitespace tokens, consecutive windows sharing
``overlap`` tokens so no span of context is lost at a boundary
(the same sliding-window geometry as the reference's series
segmentation, ``msanomalydetector/spectral_residual.py`` batching —
applied to token streams instead of points). Short documents pass
through as a single chunk; empty/NULL documents emit no chunks.

Scale shape: a pure projection + ``posexplode`` — the text is
tokenized ONCE per document inside the row (no shuffle is introduced;
chunks inherit the parent scan's partitioning), every expression is
JVM-side codegen (``split`` / ``sequence`` / ``slice`` /
``array_join``), and no chunk ever exceeds ``chunk_tokens`` tokens so
downstream packing (operators/packing.py) sees a bounded size
distribution. At 10^12 documents this is the one operator that may
*increase* row count — the explode multiplies rows by
``~n_tokens/stride`` — so it belongs AFTER quality filtering and
dedup, never before (documented contract, mirrored in the engine's
suite ordering).

Chunk geometry (for ``stride = chunk_tokens - overlap``)::

    n_chunks = 1                                  if n <= chunk_tokens
             = ceil((n - overlap) / stride)        otherwise
    chunk i  = tokens[i*stride : i*stride + chunk_tokens]

which guarantees: every token is in >= 1 chunk, consecutive chunks
share exactly ``overlap`` tokens (except a possibly-shorter tail),
and dropping the first ``overlap`` tokens of every chunk but the
first reconstructs the exact original token sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomalydetector_spark.functions import tokens


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 256,
    overlap: int = 32,
) -> DataFrame:
    """One row per ``chunk_tokens``-token window of each document.

    Returns ``(id_col, chunk_id, n_tokens, chunk_text)`` where
    ``chunk_id`` is the 0-based window index within the document and
    ``chunk_text`` is the window's tokens rejoined with single spaces
    (chunking is token-level, so intra-document whitespace runs are
    normalized — the per-row invariant is on the token SEQUENCE, not
    raw bytes; byte-level fidelity is the check suite's
    ``text_extraction`` spec).

    Empty or NULL ``text_col`` emits no rows (filter upstream if
    empty documents must be surfaced — ``operators/quality`` already
    flags them).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got overlap={overlap} "
            f"chunk_tokens={chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    # NULL text must mean "no tokens": without the coalesce, size(NULL)
    # is NULL, the n<=0 branch is skipped, and greatest(NULL, 1)
    # silently fabricates one all-NULL chunk.
    toks = F.coalesce(tokens(F.col(text_col)), F.array().cast("array<string>"))
    n = F.size(toks)
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.greatest(
            F.ceil((n - F.lit(overlap)) / F.lit(float(stride))).cast("int"),
            F.lit(1),
        )
    )
    # sequence(0, -1) would DESCEND ([0, -1]) instead of being empty —
    # guard the zero-chunk case with an explicit empty index array.
    idx = F.when(
        n_chunks > 0, F.sequence(F.lit(0), n_chunks - F.lit(1))
    ).otherwise(F.array().cast("array<int>"))
    chunk = F.slice(
        F.col("_toks"), F.col("chunk_id") * stride + 1, chunk_tokens
    )
    return (
        docs.select(F.col(id_col), toks.alias("_toks"), idx.alias("_idx"))
        .select(id_col, "_toks", F.explode("_idx").alias("chunk_id"))
        .select(
            id_col,
            "chunk_id",
            F.size(chunk).cast("long").alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )
