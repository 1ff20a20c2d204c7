"""Seeded input generator for the benchmark.

Every input is derived from one base dataset with the shape of the
repository's sf0.1 test data (a TPC-H-ish star schema, an `events`
table, a 5000-row `documents` corpus over a 30-word vocabulary with
near-duplicate and exact-duplicate pairs, and 64-d unit embeddings).
The benchmark may read nothing outside its checkout, so the base is
synthesized here rather than read from a data directory.

Larger inputs follow the relabel/rotate method of
`tools/make_scaled_sf.py`:

- documents: replica i re-labels every purely alphabetic non-stopword
  token through a shift of the corpus vocabulary. Near-duplicate
  structure inside a replica is preserved exactly, and stopword-gated
  selectivity is unchanged;
- embeddings: replica i rotates each vector by a seed-picked number of
  positions (norm- and within-replica-cosine-preserving).

The seed picks the base data, the relabel stride and rotations, the
replica order, the caption sampling for the `|||` file, the generated
images, the IVF query vectors, the absorb batches and the op order.
The program under test receives only the files written here.
"""
import json
import os
import re
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# TextAnalysis stopword sets (en/de/es/fr + Gopher), as in
# tools/make_scaled_sf.py: anchor tokens the relabel never touches.
STOPWORDS = {
    "the", "and", "of", "to", "a", "in", "is", "it", "you", "that",
    "was", "for", "on", "are", "with", "his", "they", "at",
    "der", "die", "das", "und", "ist", "ich", "nicht", "ein", "eine",
    "mit", "auf", "für", "von", "zu", "den", "im",
    "el", "la", "de", "que", "y", "en", "un", "una", "los", "las",
    "por", "con", "para", "es", "del", "se",
    "le", "les", "et", "une", "des", "est", "dans", "pour", "qui",
    "sur", "avec", "pas",
    "be", "have",
}
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15
         + ["de"] * 14)
ID_STEP = 100_000_000
DIM = 64

# Input sizes. Fixed across seeds, so a seed changes content, not size.
SIZES = {
    "docs": 5000,            # base corpus (sf0.1 shape)
    "near_dups": 250,        # docs that copy an earlier doc + " dup"
    "exact_dups": 8,
    "curate_replicas": 1,    # curate corpus = replicas x base corpus
    "vectors": 2000,         # base embeddings (sf0.1 shape)
    "index_replicas": 4,     # IVF index = replicas x base vectors
    "absorb_batches": 64,    # disjoint absorb batches of fresh vectors
    "absorb_batch_rows": 50,
    "ivf_queries": 64,
    "orders": 15000,         # sf0.01 fact tables for the short reads
    "lines_per_order": 4,
    "customers": 1500,
    "events": 10000,
    "captions": 3000,        # ingest `|||` rows
    "max_samples": 600,      # ingest limit after the range filters
    "missing_images": 0.05,  # share of captions whose image is absent
    "corrupt_images": 0.03,  # share whose image bytes do not decode
}


def _write(table, path):
    pq.write_table(table, path)


def base_documents(rng):
    n = SIZES["docs"]
    lens = rng.integers(10, 101, size=n)
    texts = [" ".join(rng.choice(VOCAB, size=int(k))) for k in lens]
    ids = rng.permutation(n)
    src_of = ids[: SIZES["near_dups"]]
    dst_of = ids[SIZES["near_dups"]: 2 * SIZES["near_dups"]]
    for s, d in zip(src_of, dst_of):
        texts[d] = texts[s] + " dup"
    ex = ids[2 * SIZES["near_dups"]: 2 * SIZES["near_dups"]
             + 2 * SIZES["exact_dups"]]
    for s, d in zip(ex[0::2], ex[1::2]):
        texts[d] = texts[s]
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), size=n)]
    return texts, langs


def relabeler(stride_seed):
    vocab = sorted(set(VOCAB + ["dup"]) - STOPWORDS)
    idx = {w: j for j, w in enumerate(vocab)}
    v = len(vocab)
    stride = (stride_seed % max(1, v // 2)) * 2 + 1

    def relabel(text, i):
        if i == 0:
            return text
        shift = (i * stride) % v
        return "".join(
            vocab[(idx[t] + shift) % v] if t in idx else t
            for t in re.split(r"(\s+)", text))
    return relabel


def documents_table(texts, langs, replicas, rng):
    relabel = relabeler(int(rng.integers(0, 1 << 30)))
    order = rng.permutation(replicas)
    ids, out_t, out_l, out_s = [], [], [], []
    for slot, i in enumerate(order):
        for j, (t, lang) in enumerate(zip(texts, langs)):
            ids.append(j + int(slot) * ID_STEP)
            out_t.append(relabel(t, int(i)))
            out_l.append(lang)
            out_s.append(f"src{j % 20}")
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(out_t, pa.string()),
        "lang": pa.array(out_l, pa.string()),
        "source": pa.array(out_s, pa.string()),
        "n_chars": pa.array([len(t) for t in out_t], pa.int64()),
    })


def unit(v):
    return (v / np.linalg.norm(v, axis=-1, keepdims=True)).astype(np.float32)


def embeddings_table(ids, vecs, labels):
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offs = pa.array(np.arange(0, vecs.size + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(offs, flat),
        "label": pa.array(labels, pa.int32()),
    })


def rotated_replicas(base, replicas, rng):
    """make_scaled_sf's rotate method with seed-picked rotations:
    replica 0 is the base, replica i rotates by a distinct shift."""
    shifts = [0] + list(rng.choice(np.arange(1, DIM), size=replicas - 1,
                                   replace=False))
    return [np.roll(base, -int(s), axis=1) for s in shifts]


def ts_us(rng, n, start, span_s):
    return (np.datetime64(start, "us")
            + (rng.integers(0, span_s * 1_000_000, size=n)
               .astype("timedelta64[us]")))


def fact_tables(rng, out):
    n_o, n_c = SIZES["orders"], SIZES["customers"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_c)],
    }), f"{out}/customer.parquet")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": np.round(rng.uniform(900, 500000, n_o), 2),
        "o_orderdate": ts_us(rng, n_o, "1992-01-01", 7 * 365 * 86400),
        "o_orderpriority": prios[rng.integers(0, 5, n_o)],
    }), f"{out}/orders.parquet")
    n_l = n_o * SIZES["lines_per_order"]
    days = rng.integers(0, 2500, n_l).astype("timedelta64[D]")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_l)],
        "l_shipdate": (np.datetime64("1995-01-01", "us")
                       + days.astype("timedelta64[us]")),
    }), f"{out}/lineitem.parquet")
    n_e = SIZES["events"]
    _write(pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": np.sort(ts_us(rng, n_e, "2024-01-01", 30 * 86400)),
        "user_id": pa.array(rng.integers(0, 1500, n_e), pa.int64()),
        "event_type": np.array(["view", "click", "purchase", "signup",
                                "error"])[rng.integers(0, 5, n_e)],
        "value": np.round(rng.exponential(60.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    }), f"{out}/events.parquet")


# ------------------------------------------------------------ ingest

def png_bytes(rgb):
    """Minimal PNG encoder (8-bit RGB, no filter): the image layer only
    needs decodable files, and the benchmark has no imaging library."""
    h, w, _ = rgb.shape
    raw = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))

    def chunk(kind, data):
        body = kind + data
        return (struct.pack(">I", len(data)) + body
                + struct.pack(">I", zlib.crc32(body) & 0xffffffff))
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw, 1))
            + chunk(b"IEND", b""))


def caption_rows(texts, rng):
    """WikiCaps-style captions sampled from the corpus: 1-5 sentences of
    3-25 tokens, capitalized, with an occasional proper noun."""
    rows = []
    for i in range(SIZES["captions"]):
        words = texts[int(rng.integers(0, len(texts)))].split()
        sents = []
        for _ in range(int(rng.integers(1, 6))):
            k = int(rng.integers(3, 26))
            start = int(rng.integers(0, max(1, len(words) - k)))
            s = words[start:start + k]
            if rng.random() < 0.3:
                s.insert(int(rng.integers(0, len(s) + 1)),
                         str(rng.choice(["Berlin", "Malham", "Wikipedia",
                                         "Schöneiche", "NASA"])))
            sents.append(" ".join(s)[:1].upper() + " ".join(s)[1:] + ".")
        rows.append((i, f"File:Image {i:06d} – scan.png", " ".join(sents)))
    return rows


def fetched_ids(rows):
    """Ids the ingest pass can fetch: the first `max_samples` rows that
    pass the reference filter set. Only their images are written; a row
    the program wrongly keeps then fails the output check."""
    keep = []
    for i, _, cap in rows:
        toks = cap.split()
        sents = [x.strip() for x in re.split(r"[.!?]+", cap) if x.strip()]
        lens = [len(x.split()) for x in sents]
        if 10 < len(toks) < 150 and min(lens, default=0) > 5 \
                and 1 < len(sents) < 5:
            keep.append(i)
    return set(keep[: SIZES["max_samples"]])


def ingest_inputs(texts, rng, out):
    rows = caption_rows(texts, rng)
    lines = [f"{i}|||{name}|||{cap}\n" for i, name, cap in rows]
    with open(f"{out}/captions.txt", "w", encoding="utf-8") as f:
        f.writelines(lines)
    img = f"{out}/images"
    os.makedirs(img, exist_ok=True)
    fate = rng.random(len(rows))
    wanted = fetched_ids(rows)
    missing, corrupt = [], []
    for (i, name, _), r in zip(rows, fate):
        if i not in wanted:
            continue
        if r < SIZES["missing_images"]:
            missing.append(i)
            continue
        path = os.path.join(img, name)
        if r < SIZES["missing_images"] + SIZES["corrupt_images"]:
            corrupt.append(i)
            data = rng.integers(0, 256, 512, dtype=np.uint8).tobytes()
        else:
            h, w = (int(v) for v in rng.integers(40, 129, 2))
            base = rng.integers(0, 256, 3)
            yy, xx = np.mgrid[0:h, 0:w]
            grad = np.stack([(xx * 255 // w), (yy * 255 // h),
                             ((xx + yy) * 127 // (w + h))], -1)
            noise = rng.integers(0, 8, (h, w, 3))
            data = png_bytes(((grad + base + noise) % 256).astype(np.uint8))
        with open(path, "wb") as f:
            f.write(data)
    return {"missing_ids": missing, "corrupt_ids": corrupt}


# --------------------------------------------------------------- all

def generate(seed, out):
    """Write every workload's inputs for `seed` under `out`. Returns the
    generation manifest (also written to `out/manifest.json`)."""
    rng = np.random.default_rng(seed)
    for sub in ("base", "curate", "ingest", "interactive"):
        os.makedirs(f"{out}/{sub}", exist_ok=True)

    texts, langs = base_documents(rng)
    _write(documents_table(texts, langs, 1, rng),
           f"{out}/base/documents.parquet")
    _write(documents_table(texts, langs, SIZES["curate_replicas"], rng),
           f"{out}/curate/documents.parquet")
    fact_tables(rng, f"{out}/base")

    nv = SIZES["vectors"]
    base_v = unit(rng.standard_normal((nv, DIM)))
    labels = rng.integers(0, 10, nv)
    _write(embeddings_table(np.arange(nv), base_v, labels),
           f"{out}/base/embeddings.parquet")
    reps = rotated_replicas(base_v, SIZES["index_replicas"], rng)
    order = rng.permutation(len(reps))
    idx_ids = np.concatenate([np.arange(nv) + int(s) * ID_STEP
                              for s in order])
    idx_v = np.concatenate([reps[i] for i in order])
    _write(embeddings_table(idx_ids, idx_v, np.tile(labels, len(reps))),
           f"{out}/interactive/index.parquet")
    # absorb batches: fresh vectors near indexed ones, disjoint ids
    nb, br = SIZES["absorb_batches"], SIZES["absorb_batch_rows"]
    near = idx_v[rng.integers(0, len(idx_v), nb * br)]
    fresh = unit(near + 0.3 * rng.standard_normal(near.shape)
                 / np.sqrt(DIM))
    ab_ids = (SIZES["index_replicas"] + 1) * ID_STEP + np.arange(nb * br)
    _write(embeddings_table(ab_ids, fresh, np.zeros(nb * br, np.int64)),
           f"{out}/interactive/absorb.parquet")
    # probe vectors: noisy copies of indexed vectors
    nq = SIZES["ivf_queries"]
    src = idx_v[rng.integers(0, len(idx_v), nq)]
    qv = unit(src + 0.5 * rng.standard_normal(src.shape) / np.sqrt(DIM))
    _write(embeddings_table(np.arange(nq), qv, np.zeros(nq, np.int64)),
           f"{out}/interactive/queries.parquet")

    images = ingest_inputs(texts, rng, f"{out}/ingest")
    manifest = {"seed": seed, "sizes": SIZES,
                "op_seed": int(rng.integers(0, 1 << 31)), **images}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest
