"""Seeded input generators for the benchmark workloads.

Every generator takes its seed as an argument and is deterministic in
(seed, parameters): the same call always writes byte-identical files.
The program under test only ever receives the files written here.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def zipf_docs(seed, n_docs, vocab=50_000, exponent=1.1, min_len=10, max_len=100):
    """`n_docs` token lists drawn from a Zipf(`exponent`) vocabulary of
    `vocab` terms; each doc has a uniform length in [min_len, max_len]."""
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** exponent
    p /= p.sum()
    # shuffle rank→term so term names carry no frequency order
    names = np.array([f"w{i}" for i in range(vocab)], dtype=object)[rng.permutation(vocab)]
    lens = rng.integers(min_len, max_len + 1, size=n_docs)
    flat = names[rng.choice(vocab, size=int(lens.sum()), p=p)]
    out, at = [], 0
    for n in lens:
        out.append(list(flat[at:at + n]))
        at += n
    return out, names, p


def inject_near_dups(seed, docs, dup_share=0.25, edit_rate=0.05, names=None, p=None):
    """Append near-duplicate copies until they are `dup_share` of the
    result: each copy takes a distinct random original and replaces a
    random `edit_rate` share of its tokens (at least one) with fresh Zipf
    draws. Distinct originals keep every injected cluster a pair, so the
    cluster shapes, and the work they cause, do not depend on the seed.
    Returns (docs, [(copy_index, source_index)])."""
    rng = np.random.default_rng(seed)
    n_orig = len(docs)
    n_dup = int(round(n_orig * dup_share / (1.0 - dup_share)))
    out = list(docs)
    pairs = []
    srcs = rng.choice(n_orig, size=n_dup, replace=False)
    fresh = iter(names[rng.choice(len(names), size=n_dup * 16, p=p)])
    for src in srcs:
        toks = list(docs[src])
        k = max(1, int(round(len(toks) * edit_rate)))
        for pos in rng.choice(len(toks), size=k, replace=False):
            toks[pos] = next(fresh)
        pairs.append((len(out), int(src)))
        out.append(toks)
    # interleave the copies with the originals so every batch holds both
    order = rng.permutation(len(out))
    inv = np.empty_like(order)
    inv[order] = np.arange(len(order))
    return [out[i] for i in order], [(int(inv[c]), int(inv[s])) for c, s in pairs]


def document_frequency(docs):
    df = {}
    for toks in docs:
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    return df


def sample_query_terms(seed, docs, n_head=50, n_tail=50, head_share=0.01, tail_band=(3, 5)):
    """Head terms: drawn from the top `head_share` of terms by document
    frequency. Tail terms: drawn from terms whose df lies in `tail_band`
    (inclusive). df is computed here from the generated text, never by
    the program under test. Returns [(term, "head"|"tail", df)]."""
    rng = np.random.default_rng(seed)
    df = document_frequency(docs)
    by_df = sorted(df, key=lambda t: (-df[t], t))
    head_pool = by_df[:max(n_head, int(len(by_df) * head_share))]
    tail_pool = sorted(t for t, d in df.items() if tail_band[0] <= d <= tail_band[1])
    if len(tail_pool) < n_tail:
        raise ValueError(f"only {len(tail_pool)} terms with df in {tail_band}")
    head = [head_pool[i] for i in rng.choice(len(head_pool), size=n_head, replace=False)]
    tail = [tail_pool[i] for i in rng.choice(len(tail_pool), size=n_tail, replace=False)]
    out = [(t, "head", df[t]) for t in head] + [(t, "tail", df[t]) for t in tail]
    return [out[i] for i in rng.permutation(len(out))]


def write_corpus_text(path, docs, id_prefix="d"):
    """The paper's corpus format: one `<doc_id> <text>` line per doc."""
    with open(path, "w") as f:
        for i, toks in enumerate(docs):
            f.write(f"{id_prefix}{i} {' '.join(toks)}\n")


def write_docs_parquet(path, ids, docs):
    table = pa.table({"doc_id": pa.array(list(ids), pa.int64()),
                      "text": pa.array([" ".join(t) for t in docs], pa.string())})
    pq.write_table(table, path)


def write_lifecycle(seed, d, docs, copies, batch_sizes, n_bulk, deletes_after, delete_size):
    """A dedup lifecycle under `d`: one parquet per ingest batch (ids
    are positions in `docs`), a seeded takedown of `delete_size` live
    injected copies (indexes in `copies`) after each batch index in
    `deletes_after`, then maintain and serve. Taking down copies means
    every takedown breaks the same number of clusters on every seed.
    Writes `plan.txt` (one step per line) and the surviving docs as
    `survivors.parquet`; returns (steps, surviving doc count)."""
    rng = np.random.default_rng(seed)
    os.makedirs(d, exist_ok=True)
    steps, at, live = [], 0, []
    for b, n in enumerate(batch_sizes):
        write_docs_parquet(os.path.join(d, f"batch{b}.parquet"), range(at, at + n),
                           docs[at:at + n])
        steps.append(f"ingest {'bulk' if b < n_bulk else 'micro'} {b} batch{b}.parquet")
        live += range(at, at + n)
        at += n
        if b in deletes_after:
            pool = sorted(set(live) & set(copies))
            gone = set(int(x) for x in rng.choice(pool, size=delete_size, replace=False))
            live = [i for i in live if i not in gone]
            name = f"del{len(steps)}.parquet"
            pq.write_table(pa.table({"doc_id": pa.array(sorted(gone), pa.int64())}),
                           os.path.join(d, name))
            steps.append(f"delete {name}")
    steps += ["maintain", "serve"]
    with open(os.path.join(d, "plan.txt"), "w") as f:
        f.write("\n".join(steps) + "\n")
    write_docs_parquet(os.path.join(d, "survivors.parquet"), live, [docs[i] for i in live])
    return steps, len(live)


def fingerprint(root):
    """md5 over every input file's relative path and bytes, 16 hex chars."""
    md = hashlib.md5()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            md.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                md.update(f.read())
    return md.hexdigest()[:16]
