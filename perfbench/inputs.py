"""Seeded benchmark inputs, generated into the benchmark's own cache.

Every input set lives in ``<cache>/<name>/`` with a ``FINGERPRINT.json``
holding the row counts and a sha256 over the files' bytes. A set is reused
only when the files still hash to that fingerprint; otherwise it is
regenerated. The same seed always yields byte-identical files, so the
fingerprint identifies the inputs a result was measured on.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

# Operator-suite inputs have FIXED content with the shape of the sf0.1
# documents/embeddings tables, as measured there: 5,000 docs of 10-100
# words (uniform) drawn uniformly from a 30-word vocabulary; 250 (5%)
# near-duplicates, each a copy of another doc with " dup" appended; 8
# exact-duplicate pairs; language shares en .41, zh/es/fr .15, de .14;
# source src{doc_id % 20}. 2,000 embeddings: unit-norm random 64-d
# vectors with a uniform label in 0-9 and no cluster structure (nearest-
# neighbour cosine at most 0.6, no near copies). The run seed only
# permutes row order, so every call's output is seed-independent and can
# be pinned.
_CONTENT_SEED = 20241017

# The crawl corpora (pipeline pages, micro-batches, L0 kernel documents)
# all have the content of the package generator's seed-42 corpus, the one
# the flagship numbers were measured on; the run seed draws the order of
# its pages. A seed then changes the inputs' bytes and partitioning but not
# the work: with content drawn from the run seed, one seed's corpus took
# ~15% longer than another's on every run, and the spread over seeds
# counted that as noise.
CORPUS_SEED = 42
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _files(d: str) -> list[str]:
    return sorted(
        os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs
        if f.endswith(".parquet")
    )


def cached(cache: str, name: str, build) -> tuple[str, dict]:
    """Directory of input set ``name``, built by ``build(dir) -> rows``
    unless a copy with a matching fingerprint is already cached. Returns
    (dir, fingerprint)."""
    d = os.path.join(cache, name)
    fp_path = os.path.join(d, "FINGERPRINT.json")
    if os.path.exists(fp_path):
        with open(fp_path) as f:
            fp = json.load(f)
        if _digest(_files(d)) == fp["sha256"]:
            return d, fp
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = build(tmp)
    fp = {"name": name, "rows": rows, "sha256": _digest(_files(tmp))}
    with open(os.path.join(tmp, "FINGERPRINT.json"), "w") as f:
        json.dump(fp, f)
    os.replace(tmp, d)
    return d, fp


def _permuted(rows, seed: int):
    return rows.take(np.random.default_rng(seed).permutation(rows.num_rows))


def pages_corpus(cache: str, seed: int, n_rows: int) -> tuple[str, dict]:
    """Synthetic crawl corpus (pages.parquet + truth_clusters.parquet)
    from the package's generator: the ``CORPUS_SEED`` content, its pages
    in an order drawn from ``seed``."""
    import pyarrow.parquet as pq

    from finddup_spark.corpus import write_pages_parquet

    def build(d: str) -> dict:
        pages, _truth = write_pages_parquet(d, n_rows=n_rows, seed=CORPUS_SEED)
        table = _permuted(pq.read_table(pages), seed)
        pq.write_table(table, pages, row_group_size=2048)  # as the generator writes it
        return {"pages": table.num_rows}

    return cached(cache, f"pages-r{n_rows}-c{CORPUS_SEED}-s{seed}", build)


def _documents(rng: np.random.Generator, n: int = 5000) -> pd.DataFrame:
    vocab = np.array(_VOCAB)
    texts = [" ".join(rng.choice(vocab, int(k))) for k in rng.integers(10, 100, n)]
    # 250 near and 8 exact copies, each of a distinct untouched doc
    perm = rng.permutation(n)
    for k, i in enumerate(perm[:258]):
        texts[i] = texts[perm[258 + k]] + (" dup" if k < 250 else "")
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n,
                           p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int = 2000, dim: int = 64) -> pd.DataFrame:
    vecs = rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def _cc_graph(rng: np.random.Generator, chains: int = 4, chain_len: int = 3) -> pd.DataFrame:
    """Adversarial CC input: ``chains`` paths of ``chain_len`` shuffled
    ids, a sparse random graph (a random matching: 20 disjoint edges) and
    one hub of 20 leaves. This shape converges in three large-star/
    small-star rounds. Paths of 4 or more ids can take a fourth round,
    which took ~50 s on a 4-vCPU host against ~7 s for three, too long
    for one run."""
    edges, base = [], 0
    for _ in range(chains):
        ids = base + rng.permutation(chain_len)
        base += chain_len
        edges += list(zip(ids[:-1], ids[1:]))
    edges += list(zip(*(base + rng.permutation(40).reshape(2, 20))))
    base += 40
    edges += [(base, base + 1 + i) for i in range(20)]
    e = np.array(edges, dtype=np.int64)
    return pd.DataFrame({"src": e[:, 0], "dst": e[:, 1]})


def operator_inputs(cache: str, seed: int) -> tuple[str, dict]:
    """documents / embeddings / cc_edges parquet with fixed content, rows
    permuted by ``seed`` (edges also get a seeded src/dst orientation)."""

    def build(d: str) -> dict:
        content = np.random.default_rng(_CONTENT_SEED)
        tables = {
            "documents": _documents(content),
            "embeddings": _embeddings(content),
            "cc_edges": _cc_graph(content),
        }
        order = np.random.default_rng(seed)
        e = tables["cc_edges"]
        flip = order.random(len(e)) < 0.5
        tables["cc_edges"] = pd.DataFrame({
            "src": np.where(flip, e.dst, e.src), "dst": np.where(flip, e.src, e.dst),
        })
        rows = {}
        for name, df in tables.items():
            df = df.iloc[order.permutation(len(df))].reset_index(drop=True)
            df.to_parquet(os.path.join(d, f"{name}.parquet"), index=False)
            rows[name] = len(df)
        return rows

    return cached(cache, f"operators-s{seed}", build)


def micro_batches(cache: str, seed: int, n_rows: int, n_batches: int) -> tuple[str, dict]:
    """The ``CORPUS_SEED`` corpus, its pages in an order drawn from
    ``seed``, split into ``n_batches`` parquet micro-batches by
    ``doc_id mod n_batches`` (batch_000.parquet, ...), text only."""
    import pyarrow as pa

    from finddup_spark.corpus import generate_pages

    def build(d: str) -> dict:
        pages, _ = generate_pages(n_rows, CORPUS_SEED)
        pages = _permuted(pa.Table.from_pandas(pages[["doc_id", "text"]]), seed).to_pandas()
        for b in range(n_batches):
            part = pages[pages.doc_id % n_batches == b].reset_index(drop=True)
            part.to_parquet(os.path.join(d, f"batch_{b:03d}.parquet"), index=False)
        return {"pages": len(pages), "batches": n_batches}

    return cached(cache, f"batches-r{n_rows}-b{n_batches}-c{CORPUS_SEED}-s{seed}", build)
