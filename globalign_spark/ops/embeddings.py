"""Text -> embedding: feature-hashed (signed random projection) doc vectors.

The round-3 gap: the ANN / embedding-near-dup operators consumed a fixture
`embeddings` table, so the similarity stack never composed end-to-end from
`pages.text`. This op closes it with the hashing trick (Weinberger et al.
2009, "Feature Hashing for Large Scale Multitask Learning"): token ``t``
contributes ``sign(t) in {-1,+1}`` to dimension ``dim(t)``, both bits of a
48-bit md5-prefix hash — the same hash family as ``ops/text.kgram_hashes``
and the widest integer DuckDB decodes exactly, so the SQL oracle twin is
value-exact. Entries are INTEGER counts: no float accumulation order to
match across engines. Cosine on these count vectors is an unbiased
estimator of the full bag-of-ngrams cosine (signs cancel collision cross
terms in expectation).

Scale shape — the whole embedding is ONE codegen-projected column
expression per row, zero shuffle, zero Python:

    split -> filter empties -> one md5 per token -> single fold of the
    hash array into a dense length-D long-array accumulator

At 10^12 pages this is embarrassingly row-parallel (a map over the scan
with no exchange at all); per-row cost is one md5 per token plus
O(tokens x D) cheap array arithmetic inside the fold. The alternative
explode -> groupBy(id, dim) plan shuffles one row per token occurrence —
strictly worse at corpus scale, so it is not offered.

Reference parity note: the reference engine has no embedding surface; this
module is part of the beyond-reference training-data-pipeline brief
(SURVEY.md §2.9), feeding `ops/similarity` (ANN, near-dup) from raw text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_DIM = 64


def hash48(c: Column) -> Column:
    """48-bit token hash: first 12 hex chars of md5, base-16 decoded.

    DuckDB twin: ``('0x' || substr(md5(t), 1, 12))::BIGINT``. Always
    non-negative, so ``%`` below is a true modulus in both engines.
    """
    return F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("long")


def tokens_of(text: Column) -> Column:
    """Whitespace tokens, empties dropped (leading/trailing whitespace
    would otherwise emit '' tokens). DuckDB twin:
    ``list_filter(string_split_regex(text, '\\s+'), x -> x <> '')``."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != F.lit(""))


def word_ngrams(toks: Column, n: int) -> Column:
    """Space-joined word n-grams of a token array (n=1 returns it as-is).

    Documents shorter than n words embed to the zero vector (empty gram
    list) rather than a partial gram.
    """
    if n == 1:
        return toks
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    # sequence(1, size-n+1) runs DESCENDING when size < n — guard it out
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def embed_text(
    text: Column, dim: int = DEFAULT_DIM, n: int = 1
) -> Column:
    """Dense feature-hashed vector (array<long>, length ``dim``) of a text
    column — a single zero-shuffle codegen expression (module docstring).

    dim(t) = (h >> 1) % dim, sign(t) = (h % 2) * 2 - 1 — disjoint bits of
    the 48-bit hash, so sign is independent of the target dimension.
    """
    hs = F.transform(word_ngrams(tokens_of(text), n), hash48)
    zero = F.array_repeat(F.lit(0).cast("long"), dim)
    return F.aggregate(
        hs,
        zero,
        lambda acc, h: F.transform(
            acc,
            lambda x, i: x
            + F.when(
                F.shiftright(h, 1) % dim == i.cast("long"),
                (h % 2) * 2 - 1,
            ).otherwise(F.lit(0).cast("long")),
        ),
    )


def embed_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = DEFAULT_DIM,
    n: int = 1,
    out_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
    impl: str = "expr",
) -> DataFrame:
    """(id, embedding array<long>, n_tokens, *keep_cols) — the corpus-wide
    embed pass.

    Plain per-row map — partitioning, ordering and row count are
    untouched, so this composes into any downstream block/join without
    adding an exchange; ``keep_cols`` carries block keys (host, source)
    through without a join-back.

    ``impl`` picks the execution strategy; both produce BIT-IDENTICAL
    integer vectors (pytest-asserted element-for-element):

    - ``"expr"``: the pure column-expression fold above — the SQL-oracle
      twin, zero Python. Its per-token cost is O(dim) with a dim-element
      array copy per token (the fold rebuilds the accumulator), so it is
      the right default only while ``dim`` stays small (~64, the oracle
      fixture width). At dim=768 the fold does ~12x the work of dim=64 —
      a constant-factor sink, not a scale-shape problem (VERDICT r4).
    - ``"arrow"``: Arrow-batched mapInPandas (same Python boundary as the
      alignment kernel): one md5 per token + a vectorized
      ``np.add.at`` scatter-add per document, O(tokens + dim) per row
      regardless of dim. The production path at realistic embedding
      widths (256/768); measured in BENCH/r5/embed_dims.json.
    """
    if impl == "arrow":
        return _embed_corpus_arrow(
            df, id_col, text_col, dim, n, out_col, keep_cols
        )
    if impl != "expr":
        raise ValueError(f"impl must be 'expr' or 'arrow', got {impl!r}")
    toks = tokens_of(F.col(text_col))
    return df.select(
        F.col(id_col).alias(id_col),
        embed_text(F.col(text_col), dim=dim, n=n).alias(out_col),
        # NULL text -> NULL n_tokens whatever spark.sql.legacy.sizeOfNull
        # says (F.size alone gives -1 under the legacy setting), as on
        # the arrow path.
        F.when(F.col(text_col).isNull(), None)
        .otherwise(F.size(toks)).cast("long").alias("n_tokens"),
        *[F.col(c) for c in keep_cols],
    )


# Java's \s ([ \t\n\x0B\f\r]) — NOT Python's Unicode-aware \s: the arrow
# path must tokenize exactly as the Spark expression twin does, or a
# \xa0-separated page would embed differently per path.
_JAVA_WS = "[ \t\n\x0b\x0c\r]+"


def _embed_corpus_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int,
    n: int,
    out_col: str,
    keep_cols: tuple[str, ...],
) -> DataFrame:
    """Arrow-batched scatter-add embed (see :func:`embed_corpus` docstring).

    Per Arrow batch: Java-regex-equivalent tokenization, word n-grams,
    one md5 per gram (the same 48-bit prefix hash as :func:`hash48`),
    then ``np.add.at(vec, (h >> 1) % dim, (h & 1) * 2 - 1)`` — the
    whole dim-width accumulator is touched once per DOCUMENT, not once
    per token."""
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        [
            in_fields[id_col],
            T.StructField(out_col, T.ArrayType(T.LongType())),
            T.StructField("n_tokens", T.LongType()),
            *[in_fields[c] for c in keep_cols],
        ]
    )

    def batches(it):
        import hashlib
        import re

        import numpy as np
        import pandas as pd

        ws = re.compile(_JAVA_WS)
        for pdf in it:
            embs: list = []
            ntoks: list = []
            for t in pdf[text_col]:
                if t is None:
                    embs.append(None)
                    ntoks.append(None)
                    continue
                toks = [x for x in ws.split(t) if x != ""]
                ntoks.append(len(toks))
                if n == 1:
                    grams = toks
                elif len(toks) >= n:
                    grams = [
                        " ".join(toks[i : i + n])
                        for i in range(len(toks) - n + 1)
                    ]
                else:
                    grams = []
                v = np.zeros(dim, dtype=np.int64)
                if grams:
                    hs = np.fromiter(
                        (
                            int(
                                hashlib.md5(g.encode("utf-8")).hexdigest()[
                                    :12
                                ],
                                16,
                            )
                            for g in grams
                        ),
                        dtype=np.int64,
                        count=len(grams),
                    )
                    np.add.at(v, (hs >> 1) % dim, (hs & 1) * 2 - 1)
                embs.append(v)
            out = {id_col: pdf[id_col], out_col: embs, "n_tokens": ntoks}
            for c in keep_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema=out_schema)


def embed_sparse(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = DEFAULT_DIM,
    n: int = 1,
) -> DataFrame:
    """Sparse (id, dim, val != 0) projection of ``embed_corpus`` — the
    oracle-friendly view (integer rows hash-compare exactly; the driver's
    canonicalizer never sees an array column). Runs the REAL dense op and
    posexplodes it, so a green oracle row certifies the production path.
    """
    dense = embed_corpus(df, id_col, text_col, dim=dim, n=n)
    return (
        dense.select(
            F.col(id_col),
            F.posexplode("embedding").alias("dim", "val"),
        )
        .where(F.col("val") != 0)
        .select(
            F.col(id_col),
            F.col("dim").cast("long").alias("dim"),
            F.col("val").alias("val"),
        )
    )
