"""Seeded document corpus for the ``llm_pipeline`` workload.

The corpus is derived from the sf0.1 ``documents`` table: a seeded
sample of source documents, each with a few token substitutions, plus
exact and near copies of earlier documents. The dedup operators'
cost depends on these shares, so they are fixed here and stated in
BENCHMARK.json. The other nine tables of the sf-dir are links to the
sf0.1 files, so every registered oracle can run on the same parquet.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 5000
EXACT_SHARE = 0.05  # copies of an earlier document, byte for byte
NEAR_SHARE = 0.10  # copies of an earlier document with 1-3 tokens replaced
FRESH_EDIT_RATE = 0.08  # token substitution rate applied to each sampled source


def _edit(tokens: list[str], vocab: list[str], rng, n_edits: int) -> list[str]:
    out = list(tokens)
    for pos in rng.choice(len(out), size=min(n_edits, len(out)), replace=False):
        out[pos] = vocab[rng.integers(len(vocab))]
    return out


def generate(src_path: str, seed: int, n_docs: int = N_DOCS) -> pa.Table:
    """Build the corpus table for ``seed``; same seed, same rows."""
    src = pq.read_table(src_path, columns=["text", "lang", "source"]).to_pylist()
    vocab = sorted({w for r in src for w in r["text"].split()})
    rng = np.random.default_rng(seed)
    order = rng.permutation(len(src))
    kinds = rng.random(n_docs)
    rows: list[dict] = []
    fresh = 0
    for i in range(n_docs):
        if rows and kinds[i] < EXACT_SHARE:
            base = rows[rng.integers(len(rows))]
            text, lang, source = base["text"], base["lang"], base["source"]
        elif rows and kinds[i] < EXACT_SHARE + NEAR_SHARE:
            base = rows[rng.integers(len(rows))]
            toks = base["text"].split()
            text = " ".join(_edit(toks, vocab, rng, int(rng.integers(1, 4))))
            lang, source = base["lang"], base["source"]
        else:
            s = src[order[fresh % len(src)]]
            fresh += 1
            toks = s["text"].split()
            n_edits = max(1, round(FRESH_EDIT_RATE * len(toks)))
            text = " ".join(_edit(toks, vocab, rng, n_edits))
            lang, source = s["lang"], s["source"]
        rows.append(
            {"doc_id": i, "text": text, "lang": lang, "source": source, "n_chars": len(text)}
        )
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    return pa.Table.from_pylist(rows, schema=schema)


def fingerprint(table: pa.Table) -> str:
    """Content digest of a corpus table (row order included)."""
    h = hashlib.sha256()
    for doc_id, text in zip(table["doc_id"].to_pylist(), table["text"].to_pylist()):
        h.update(f"{doc_id}\t{text}\n".encode())
    return h.hexdigest()


def shares(table: pa.Table) -> dict[str, float]:
    """Measured exact-duplicate share: documents whose text equals an
    earlier document's."""
    seen: set[str] = set()
    dups = 0
    for text in table["text"].to_pylist():
        dups += text in seen
        seen.add(text)
    return {"docs": table.num_rows, "exact_dup_share": dups / table.num_rows}


def materialize(sf01_dir: str, out_root: str, seed: int) -> tuple[str, dict]:
    """Write (or reuse) the sf-dir for ``seed`` under ``out_root`` and
    return its path and the corpus facts."""
    params = f"{N_DOCS}-{EXACT_SHARE}-{NEAR_SHARE}-{FRESH_EDIT_RATE}"
    out = os.path.join(out_root, f"seed{seed}-{params}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        tmp = out + f".tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        table = generate(os.path.join(sf01_dir, "documents.parquet"), seed)
        pq.write_table(table, os.path.join(tmp, "documents.parquet"))
        for name in os.listdir(sf01_dir):
            if name.endswith(".parquet") and name != "documents.parquet":
                os.symlink(os.path.join(sf01_dir, name), os.path.join(tmp, name))
        with open(os.path.join(tmp, "_DONE"), "w") as fh:
            fh.write(fingerprint(table) + "\n")
        try:
            os.rename(tmp, out)
        except OSError:  # another run of the same seed finished first
            shutil.rmtree(tmp, ignore_errors=True)
    with open(done) as fh:
        digest = fh.read().strip()
    facts = shares(pq.read_table(os.path.join(out, "documents.parquet"), columns=["text"]))
    return out, {**facts, "fingerprint": digest}
