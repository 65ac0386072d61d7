"""Seeded input generators and the traffic properties measured on them.

Every generator is a pure function of its seed and size, so the same seed
gives the same chunks on every machine. The properties returned next to
the inputs are measured on the generated rows, not assumed from the
generator's parameters.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

DOC_SCHEMA = "seq long, doc_id long, text string"

# documents: Zipf words over a vocabulary of thousands, so shingles and
# segments are mostly distinct and the keyed-state operators see very
# many keys (the fixture replica's 31-word vocabulary makes every
# document share nearly every shingle)
VOCAB_SIZE = 5000
ZIPF_A = 1.1
DOC_WORDS = (30, 80)
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.10
NEAR_DUP_EDITS = 2
DECON_SHARE = 0.03
EVAL_DOCS = 40
EVAL_SPAN = 13


def token_chunks(seed: int, rows_per_chunk: int, n_chunks: int, first_chunk_rows: int | None = None):
    """The F1 token stream (``sources.synthetic.token_stream_pdf``) and its
    traffic properties. The first chunk holds ``first_chunk_rows`` rows
    (default ``rows_per_chunk``), every other one ``rows_per_chunk``."""
    from bucketizers_spark.sources.synthetic import token_stream_pdf

    first = rows_per_chunk if first_chunk_rows is None else first_chunk_rows
    pdf = token_stream_pdf(first + rows_per_chunk * (n_chunks - 1), seed=seed)
    lead = pdf["tokens"].map(lambda t: int(t[0]))
    # the subject stage's bucket key: the normalized last path element
    keys = pdf["doc_id"].str.rsplit("/", n=1).str[-1]
    props = {
        "first_chunk_rows": first,
        "rows_per_chunk": rows_per_chunk,
        "chunks": n_chunks,
        "hot_lead_token_share": round(float(lead.value_counts().iloc[0] / len(pdf)), 4),
        "distinct_lead_tokens": int(lead.nunique()),
        "distinct_bucket_keys": int(keys.nunique()),
        "mean_tokens_per_row": round(float(pdf["n_tok"].mean()), 2),
    }
    return pdf, props


def _vocab(rng: np.random.Generator) -> np.ndarray:
    syl = np.array(["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "gu"])
    parts = rng.integers(0, len(syl), size=(VOCAB_SIZE, 4))
    words = np.array(["".join(syl[p]) + str(i) for i, p in enumerate(parts)])
    return words


def doc_chunks(seed: int, docs_per_chunk: int, n_chunks: int):
    """A text-document stream for the dedup family, an eval set for
    decontamination, and the planted near-duplicate pairs.

    Shares are of the stream's documents: exact copies of an earlier
    document, near copies (``NEAR_DUP_EDITS`` words replaced) of an
    earlier document, and documents that embed an ``EVAL_SPAN``-word span
    of an eval document (decontamination hits)."""
    rng = np.random.default_rng(seed)
    words = _vocab(rng)
    n = docs_per_chunk * n_chunks

    def sample(k: int) -> list[str]:
        idx = np.minimum(rng.zipf(ZIPF_A, size=k) - 1, VOCAB_SIZE - 1)
        return list(words[idx])

    # eval documents draw words uniformly: Zipf-drawn eval text would share
    # common-word 4-grams with nearly every stream document
    evals = [" ".join(words[rng.integers(0, VOCAB_SIZE, size=int(rng.integers(*DOC_WORDS)))]) for _ in range(EVAL_DOCS)]
    texts: list[str] = []
    kind = rng.random(n)
    near_pairs: set[tuple[int, int]] = set()
    for i in range(n):
        if i >= 20 and kind[i] < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i >= 20 and kind[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            src = int(rng.integers(0, i))
            ws = texts[src].split(" ")
            for pos in rng.integers(0, len(ws), size=NEAR_DUP_EDITS):
                ws[int(pos)] = sample(1)[0]
            texts.append(" ".join(ws))
            near_pairs.add((src, i))
            continue
        ws = sample(int(rng.integers(*DOC_WORDS)))
        if kind[i] > 1.0 - DECON_SHARE:
            ev = evals[int(rng.integers(0, EVAL_DOCS))].split(" ")
            at = int(rng.integers(0, max(1, len(ev) - EVAL_SPAN)))
            span = ev[at : at + EVAL_SPAN]
            cut = int(rng.integers(0, len(ws)))
            ws = ws[:cut] + span + ws[cut:]
        texts.append(" ".join(ws))
    pdf = pd.DataFrame(
        {"seq": np.arange(n, dtype=np.int64), "doc_id": np.arange(n, dtype=np.int64), "text": texts}
    )
    eval_pdf = pd.DataFrame(
        {
            "seq": np.arange(EVAL_DOCS, dtype=np.int64),
            "doc_id": np.arange(10**9, 10**9 + EVAL_DOCS, dtype=np.int64),
            "text": evals,
        }
    )
    first = pdf.groupby("text")["doc_id"].transform("min")
    eval_grams = {g for t in evals for g in _grams(t, 4)}
    props = {
        "docs_per_chunk": docs_per_chunk,
        "chunks": n_chunks,
        "vocab_words": VOCAB_SIZE,
        "exact_dup_share": round(float((first != pdf["doc_id"]).mean()), 4),
        "near_dup_share": round(len(near_pairs) / n, 4),
        "decon_hit_share": round(
            float(pdf["text"].map(lambda t: bool(eval_grams & set(_grams(t, 4)))).mean()), 4
        ),
        "mean_words_per_doc": round(float(pdf["text"].str.count(" ").mean() + 1), 2),
    }
    return pdf, eval_pdf, near_pairs, props


def _grams(text: str, n: int) -> list[tuple[str, ...]]:
    ws = text.split(" ")
    return [tuple(ws[i : i + n]) for i in range(len(ws) - n + 1)]
