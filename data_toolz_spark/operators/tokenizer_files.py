"""Tokenizer model FILE interop — the standard on-disk formats the
wider tooling ecosystem reads (r12, X99).

The catalog-table persistence (`save_bpe_model` etc.) is the right
shape INSIDE this engine; what leaves it is files: GPT-2/HF BPE ships
as ``vocab.json`` (token → id) + ``merges.txt`` (``#version`` header,
one ``left right`` pair per line in rank order), BERT WordPiece ships
as ``vocab.txt`` (one token per line, the line NUMBER is the id), and
SentencePiece's ``spm_export_vocab`` dumps a piece/score TSV.  This
module writes and reads those container shapes for the models this
package trains:

* :func:`save_bpe_files` / :func:`load_bpe_files` — the GPT-2 pair.
  ``merges.txt`` carries (left, right) per rank only, so a reloaded
  merge list reconstructs ``merged = left + right`` and drops
  ``pair_count`` (not part of the format; encoding never reads it —
  pinned by an encode-equality test).  BPE symbols come from
  whitespace-split words, so the space-separated line format is
  unambiguous by construction (guarded anyway).
* :func:`save_wordpiece_vocab` / :func:`load_wordpiece_vocab` — BERT
  ``vocab.txt``; requires the contiguous 0..n-1 id space
  :func:`wordpiece.wordpiece_vocab` produces (validated, raises on
  gaps rather than silently renumbering).
* :func:`save_unigram_tsv` / :func:`load_unigram_tsv` — a
  ``piece<TAB>count`` TSV.  Deliberately counts, not spm's float log
  probs: counts ARE this package's exact model state (scores derive
  from them at encode time), so the round trip is integer-exact where
  a score dump would re-quantize.

All I/O goes through the driver's Hadoop ``FileSystem`` (the
``compact_dataset`` marker-file device), so paths work on every
scheme the session serves — local, HDFS, s3a — and each write is a
single ``create(overwrite=True)`` stream of bounded model state.

Reference scope note: the reference system (`/root/reference`, SURVEY
§2) ships no tokenizer; this module is §2.9 extension surface.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from data_toolz_spark.fs import FsUtil

#: GPT-2/HF merges.txt header line
MERGES_VERSION = "#version: 0.2"


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    fsu = FsUtil(spark)
    stream = fsu._fs(path).create(fsu._jpath(path), True)
    try:
        stream.write(text.encode("utf-8"))
    finally:
        stream.close()


def _read_text(spark: SparkSession, path: str) -> str:
    # wholeTextFiles preserves the file byte-for-byte (UTF-8 decoded)
    # — the public API for exact small-file reads on any scheme; one
    # model file = one (path, content) pair
    pairs = spark.sparkContext.wholeTextFiles(path).collect()
    if len(pairs) != 1:
        raise ValueError(
            f"expected exactly one file at {path!r}, found {len(pairs)}"
        )
    return pairs[0][1]


def save_bpe_files(
    spark: SparkSession,
    dirpath: str,
    merges: list[dict],
    vocab: dict[str, int],
) -> None:
    """Write ``{dirpath}/vocab.json`` + ``{dirpath}/merges.txt`` in
    the GPT-2/HF container shape.  Symbols containing whitespace or
    newlines cannot ride the line format and raise (impossible for
    models trained here — words are whitespace-split)."""
    for m in merges:
        for side in (m["left"], m["right"]):
            if any(ch.isspace() for ch in side):
                raise ValueError(
                    "save_bpe_files: merge symbol "
                    f"{side!r} contains whitespace — not representable "
                    "in merges.txt"
                )
    for sym in vocab:
        if "\n" in sym or "\r" in sym:
            raise ValueError(
                f"save_bpe_files: vocab symbol {sym!r} contains a "
                "newline — not representable"
            )
    lines = [MERGES_VERSION] + [
        f"{m['left']} {m['right']}"
        for m in sorted(merges, key=lambda m: m["rank"])
    ]
    _write_text(
        spark, f"{dirpath.rstrip('/')}/merges.txt", "\n".join(lines) + "\n"
    )
    _write_text(
        spark,
        f"{dirpath.rstrip('/')}/vocab.json",
        json.dumps(vocab, ensure_ascii=False, sort_keys=True),
    )


def load_bpe_files(
    spark: SparkSession, dirpath: str
) -> tuple[list[dict], dict[str, int]]:
    """Read a :func:`save_bpe_files` directory (or any GPT-2-format
    pair) → ``(merges, vocab)``.  Merge dicts carry ``rank``,
    ``left``, ``right``, ``merged`` — everything the encoders read;
    ``pair_count`` is not part of the format."""
    raw = _read_text(spark, f"{dirpath.rstrip('/')}/merges.txt")
    merges: list[dict] = []
    for line in raw.splitlines():
        if not line or line.startswith("#"):
            continue
        parts = line.split(" ")
        if len(parts) != 2:
            raise ValueError(
                f"load_bpe_files: malformed merges.txt line {line!r}"
            )
        l, r = parts
        merges.append(
            {
                "rank": len(merges),
                "left": l,
                "right": r,
                "merged": l + r,
            }
        )
    vocab = json.loads(
        _read_text(spark, f"{dirpath.rstrip('/')}/vocab.json")
    )
    return merges, {str(k): int(v) for k, v in vocab.items()}


def save_wordpiece_vocab(
    spark: SparkSession, path: str, vocab: dict[str, int]
) -> None:
    """Write a BERT ``vocab.txt``: one token per line, line number =
    id.  The id space must already be contiguous ``0..n-1``
    (:func:`wordpiece.wordpiece_vocab` guarantees it); gaps raise
    instead of silently renumbering."""
    ordered = sorted(vocab.items(), key=lambda kv: kv[1])
    ids = [i for _, i in ordered]
    if ids != list(range(len(ids))):
        raise ValueError(
            "save_wordpiece_vocab: vocab ids are not contiguous 0..n-1"
        )
    for tok, _ in ordered:
        if "\n" in tok or "\r" in tok:
            raise ValueError(
                f"save_wordpiece_vocab: token {tok!r} contains a "
                "newline — not representable in vocab.txt"
            )
    _write_text(
        spark, path, "\n".join(tok for tok, _ in ordered) + "\n"
    )


def load_wordpiece_vocab(
    spark: SparkSession, path: str
) -> dict[str, int]:
    """Read a BERT ``vocab.txt`` → ``{token: line_number}``."""
    raw = _read_text(spark, path)
    lines = raw.splitlines()
    while lines and lines[-1] == "":
        lines.pop()
    vocab = {tok: i for i, tok in enumerate(lines)}
    if len(vocab) != len(lines):
        raise ValueError(
            "load_wordpiece_vocab: duplicate tokens in vocab.txt"
        )
    return vocab


def save_unigram_tsv(spark: SparkSession, path: str, model) -> None:
    """Write a :class:`unigram.UnigramModel` as ``piece<TAB>count``
    lines in id order (id 0's ``<unk>`` included) — the exact model
    state, integer-round-trippable."""
    for p in model.pieces:
        if "\t" in p or "\n" in p or "\r" in p:
            raise ValueError(
                f"save_unigram_tsv: piece {p!r} contains a tab/newline "
                "— not representable in TSV"
            )
    _write_text(
        spark,
        path,
        "\n".join(
            f"{p}\t{c}" for p, c in zip(model.pieces, model.counts)
        )
        + "\n",
    )


def load_unigram_tsv(spark: SparkSession, path: str):
    """Read a :func:`save_unigram_tsv` file → ``UnigramModel`` (exact
    round trip)."""
    from data_toolz_spark.operators.unigram import UnigramModel

    pieces: list[str] = []
    counts: list[int] = []
    raw = _read_text(spark, path)
    for line in raw.splitlines():
        if line == "":
            continue
        piece, _, cnt = line.partition("\t")
        pieces.append(piece)
        counts.append(int(cnt))
    return UnigramModel(pieces=tuple(pieces), counts=tuple(counts))


__all__ = [
    "MERGES_VERSION",
    "save_bpe_files",
    "load_bpe_files",
    "save_wordpiece_vocab",
    "load_wordpiece_vocab",
    "save_unigram_tsv",
    "load_unigram_tsv",
]
