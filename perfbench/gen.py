"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical parquet. Outputs land in a temporary directory
that is renamed into place once complete, so a reader never sees a partial
input set.

- ``v3_corpus``: the planted-structure corpus of ``graft.tools.V3Stress``
  (exact and near-dup copy groups, spliced filler, paired embeddings with
  the same ``id + i * 10**6`` copy scheme).
- ``ingest_drops``: a pool of drop files (doc_id, text, 64-dim embedding)
  from the same recipe; later drops re-send earlier documents as planted
  twins that the ingest must drop.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "vector order line table data agg value key stream window spark a "
         "part group big sort query fast the").split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = np.array([0.436, 0.15, 0.146, 0.14, 0.128])
DIM = 64
DUP_GROUP = 10       # V3Stress: copies 0..4 exact, 5..9 near dups
COPY_STRIDE = 10**6  # copy i of base id d is d + i * COPY_STRIDE
PARTNER_STRIDE = 131


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def publish(final_dir, build):
    """Run ``build(tmp_dir)`` and rename the finished directory into place."""
    if os.path.isdir(final_dir):
        return False
    parent = os.path.dirname(final_dir)
    os.makedirs(parent, exist_ok=True)
    tmp = f"{final_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final_dir)
    return True


def _texts(rng, n):
    """Word-salad documents over the fixture vocabulary, 10..90 words; 5%
    are an earlier document plus a ``dup`` marker (organic near dups)."""
    lens = rng.integers(10, 91, n)
    picks = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(WORDS[j] for j in picks[pos:pos + k]))
        pos += k
    dup_of = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in np.nonzero(rng.random(n) < 0.05)[0]:
        if i > 0:
            out[i] = out[dup_of[i]] + " dup"
    return out


def _unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _vec_column(mat):
    flat = pa.array(mat.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, mat.size + 1, DIM, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def base_documents(rng, n):
    text = _texts(rng, n)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
    }


def _splice(a, b):
    # V3Stress: substring(text, 1, len/2) || substring(ptext, len(ptext)/2)
    return a[:len(a) // 2] + b[max(0, len(b) // 2 - 1):]


def corpus_docs(base, copies, id_base=0):
    """V3Stress documents: per base doc a 10-copy duplicate group (5
    verbatim, 5 marker-suffixed), then spliced filler copies."""
    ids, texts, langs = base["doc_id"], base["text"], base["lang"]
    n = len(ids)
    out_id, out_text, out_lang = [], [], []
    for i in range(copies):
        for d in range(n):
            if i < DUP_GROUP // 2:
                t = texts[d]
            elif i < DUP_GROUP:
                t = f"{texts[d]} copymark{i}"
            else:
                t = _splice(texts[d], texts[(ids[d] + i * PARTNER_STRIDE) % n])
            out_id.append(id_base + ids[d] + i * COPY_STRIDE)
            out_text.append(t)
            out_lang.append(langs[d])
    return np.array(out_id, dtype=np.int64), out_text, out_lang


def corpus_vectors(base, copies):
    """SemanticStressCorpus: exact twins 2v, near dups 8v + w, filler
    (v + w) / 2 with w the stride partner."""
    n = len(base)
    parts, ids = [], []
    for i in range(copies):
        w = base[(np.arange(n) + i * PARTNER_STRIDE) % n]
        if i < DUP_GROUP // 2:
            parts.append(base * np.float32(2.0))
        elif i < DUP_GROUP:
            parts.append(base * np.float32(8.0) + w)
        else:
            parts.append((base + w) * np.float32(0.5))
        ids.append(np.arange(n, dtype=np.int64) + i * COPY_STRIDE)
    return np.concatenate(ids), np.concatenate(parts)


def v3_corpus(out_dir, seed, base_docs, copies, base_vecs):
    rng = np.random.default_rng([seed, 2])
    base = base_documents(rng, base_docs)
    ids, text, lang = corpus_docs(base, copies)
    _write(pa.table({"doc_id": ids, "text": text, "lang": lang}),
           os.path.join(out_dir, "documents.parquet"))
    vec_ids, vecs = corpus_vectors(_unit_vectors(rng, base_vecs), DUP_GROUP)
    _write(pa.table({"vec_id": vec_ids, "embedding": _vec_column(vecs)},
                    schema=pa.schema([("vec_id", pa.int64()),
                                      ("embedding", pa.list_(pa.float32()))])),
           os.path.join(out_dir, "embeddings.parquet"))


def ingest_drops(out_dir, seed, rounds, docs_per_drop, twins_per_drop):
    """``rounds`` drop files. Drop r holds fresh documents with ids
    ``r * 10**6 + j`` plus ``twins_per_drop`` planted twins: re-sent copies
    of earlier drops' documents under new ids (``r * 10**6 + 900000 + j``),
    carrying the same text and a x2-scaled vector, so the semantic tier must
    drop them. ``twins.parquet`` lists every planted twin id."""
    rng = np.random.default_rng([seed, 3])
    bank_text, bank_vec, twin_ids = [], [], []
    for r in range(rounds):
        base = base_documents(rng, docs_per_drop)
        vecs = _unit_vectors(rng, docs_per_drop)
        ids = r * COPY_STRIDE + np.arange(docs_per_drop, dtype=np.int64)
        texts = list(base["text"])
        if r > 0:
            pick = rng.integers(0, len(bank_text), twins_per_drop)
            tids = r * COPY_STRIDE + 900000 + np.arange(twins_per_drop, dtype=np.int64)
            ids = np.concatenate([ids, tids])
            texts += [bank_text[k] for k in pick]
            vecs = np.concatenate([vecs, np.stack([bank_vec[k] for k in pick]) * 2.0])
            twin_ids.extend(tids.tolist())
        bank_text.extend(base["text"])
        bank_vec.extend(list(vecs[:docs_per_drop]))
        _write(pa.table({"doc_id": ids, "text": texts, "embedding": _vec_column(vecs)},
                        schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                                          ("embedding", pa.list_(pa.float32()))])),
               os.path.join(out_dir, f"drop_{r:05d}.parquet"))
    _write(pa.table({"doc_id": np.array(twin_ids, dtype=np.int64)}),
           os.path.join(out_dir, "twins.parquet"))
