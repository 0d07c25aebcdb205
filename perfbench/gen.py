"""Seeded input generator for the benchmark workloads.

The program under test only ever sees the parquet files written here.
The same (workload, seed) always gives byte-identical files.
Alongside the tables it writes

  props.json   the input properties the run record carries;
  expect.json  per-row expectations for a seeded sample of source rows
               (document id from the reference sdbm formula, field
               values), which the output checkers compare against.

Text is printable characters plus some multi-byte UTF-8 (including a
character outside the BMP, which UTF-16 stores as a surrogate pair, so
the id hash sees two code units). No control characters: how those are
emitted is outside what the checks here pin.

    python3 perfbench/gen.py <pages|typed|mix> <seed> <out_dir>
"""
import datetime as dt
import decimal
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Row counts of every generated table (operator_mix: the sf0.1 fixture counts).
ROWS = {
    "pages": 12_000,
    "typed": 60_000,
    "dim": 1_000,
    "documents": 5_000,
    "embeddings": 2_000,
    "events": 100_000,
}
USERS = 1_500  # distinct user ids in events, as in the sf0.1 fixture

WORDS = np.array(
    "spark stream window merge table column vector value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch index docset shard token corpus".split())
# Tokens that need escaping in XML text, and multi-byte UTF-8 ones.
SPECIAL = np.array(["AT&T", "a<b", "x>y", "<b>", "R&D", "&amp;", "1<2>0"])
MULTIBYTE = np.array(["café", "naïve", "Straße", "日本語", "Ελληνικά",
                      "señal", "😀", "Zürich"])
PART_FILES = 8  # export sources are split like a Spark-written table
EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z, in seconds


def sdbm(seed, text):
    """Reference doc-id hash (Query.java:303-316): over UTF-16 code
    units, h = c + (h << 6) + (h << 16) - h in 64-bit two's complement;
    a non-positive result becomes its two's-complement negation."""
    m = (1 << 64) - 1
    h = seed & m
    units = text.encode("utf-16-le")
    for i in range(0, len(units), 2):
        c = units[i] | (units[i + 1] << 8)
        h = (c + (h << 6) + (h << 16) - h) & m
    signed = h - (1 << 64) if h >= 1 << 63 else h
    if signed > 0:
        return signed
    neg = (~h + 1) & m
    return neg - (1 << 64) if neg >= 1 << 63 else neg


def _ts_text(us):
    return dt.datetime.fromtimestamp(us // 1_000_000, dt.timezone.utc) \
        .strftime("%Y-%m-%d %H:%M:%S")


def _sentences(rng, n, lo, hi, special_p, multi_p):
    """n strings of lo..hi words; each word is special or multi-byte
    with the given per-row probability of containing one."""
    lens = rng.integers(lo, hi + 1, n)
    idx = rng.integers(0, len(WORDS), lens.sum())
    words = WORDS[idx].astype(object)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    has_sp = rng.random(n) < special_p
    has_mb = rng.random(n) < multi_p
    sp_pos = starts + (rng.random(n) * lens).astype(np.int64)
    mb_pos = starts + (rng.random(n) * lens).astype(np.int64)
    words[sp_pos[has_sp]] = SPECIAL[rng.integers(0, len(SPECIAL), has_sp.sum())]
    words[mb_pos[has_mb]] = MULTIBYTE[rng.integers(0, len(MULTIBYTE), has_mb.sum())]
    return [" ".join(words[s:s + k]) for s, k in zip(starts, lens)]


def _write(table, path, files=1):
    """One parquet file, or a directory of `files` part files (as a
    Spark writer lays out a table, so that the scan is split)."""
    if files == 1:
        pq.write_table(table, path, compression="snappy", store_schema=False)
        return
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"),
                       compression="snappy", store_schema=False)


def _share(strings, pattern):
    """Share of strings matching a regex."""
    hits = pc.match_substring_regex(pa.array(strings, pa.string()), pattern)
    return round(pc.mean(hits.cast(pa.int8())).as_py(), 4)


def _sample(rng, n, k):
    return sorted(int(i) for i in rng.choice(n, size=min(k, n), replace=False))


def gen_pages(rng, out):
    """test.Pages shape (reference README): url, pos, title, content,
    a JSON-int-matrix string column, a double and a timestamp; keys
    url,pos, so the doc id is the sdbm hash of url seeded by pos."""
    n = ROWS["pages"]
    per_page = 4
    page = np.arange(n) // per_page
    pos = (np.arange(n) % per_page + 1).astype(np.int32)
    hosts = np.array(["en.example.org/wiki", "de.example.org/wiki/Straße",
                      "docs.example.com/guide", "例え.jp/記事",
                      "blog.example.net/p"])
    host = hosts[rng.integers(0, len(hosts), page.max() + 1)][page]
    url = [f"https://{h}/{p}" for h, p in zip(host, page)]
    title = _sentences(rng, n, 3, 8, 0.05, 0.05)
    content = _sentences(rng, n, 20, 140, 0.2, 0.1)
    # tags: 20% JSON int matrices (rendered as <mem> markup), 10% JSON
    # objects (bracketed but not a matrix: raw text), the rest words
    kind = rng.random(n)
    w3 = WORDS[rng.integers(0, len(WORDS), (n, 3))]
    tags = [" ".join(w) for w in w3]
    for i in np.flatnonzero((kind >= 0.2) & (kind < 0.3)):
        tags[i] = '{"k": %d}' % (i % 100)
    mem = [None] * n
    for i in np.flatnonzero(kind < 0.2):
        rows = [rng.integers(-999, 1000, rng.integers(1, 5)).tolist()
                for _ in range(rng.integers(1, 4))]
        tags[i] = json.dumps(rows, separators=(",", ":"))
        mem[i] = "".join("<mem>" + " ".join(map(str, r)) + "</mem>" for r in rows)
    score = np.round(rng.random(n) * 1000, 4)
    ts = EPOCH_2024 * 1_000_000 + np.sort(
        rng.integers(0, 365 * 86400 * 1_000_000, n))
    table = pa.table({
        "url": pa.array(url, pa.string()),
        "pos": pa.array(pos, pa.int32()),
        "title": pa.array(title, pa.string()),
        "content": pa.array(content, pa.string()),
        "tags": pa.array(tags, pa.string()),
        "score": pa.array(score, pa.float64()),
        "ts": pa.array(ts, pa.timestamp("us")),
    })
    _write(table, os.path.join(out, "pages.parquet"), PART_FILES)
    sample = []
    for i in _sample(rng, n, 200):
        sample.append({"id": sdbm(int(pos[i]), url[i]), "fields": {
            "url": ["text", url[i]],
            "pos": ["int", str(pos[i])],
            "title": ["text", title[i]],
            "content": ["text", content[i]],
            "tags": ["text", mem[i] if mem[i] is not None else tags[i]],
            "score": ["double", repr(float(score[i]))],
            "ts": ["ts", _ts_text(int(ts[i]))],
        }})
    props = {
        "rows": n,
        "key_shape": "composite (url string, pos int): sdbm(pos, url)",
        "matrix_share": round(sum(m is not None for m in mem) / n, 4),
        "xml_special_share": _share(content, "[&<>]"),
        "multibyte_share": _share(content, "[^\\x00-\\x7f]"),
    }
    expect = {"source_rows": n, "fields": list(table.column_names),
              "sample": sample}
    return props, expect


def gen_typed(rng, out):
    """About a dozen typed columns with one bigint key, plus a
    1 000-row dimension joined on dim_key."""
    n = ROWS["typed"]
    nd = ROWS["dim"]
    ids = np.arange(n, dtype=np.int64) * 7 + 1_000_000_000_000
    i32 = rng.integers(-2**31, 2**31, n, dtype=np.int64).astype(np.int32)
    dbl = rng.normal(0, 1e4, n)
    flt = rng.normal(0, 100, n).astype(np.float32)
    cents = rng.integers(-10**9, 10**9, n)
    boo = rng.random(n) < 0.5
    ts = EPOCH_2024 * 1_000_000 + rng.integers(0, 730 * 86400 * 1_000_000, n)
    days = (EPOCH_2024 // 86400 + rng.integers(-3650, 3650, n)).astype(np.int32)
    alen = rng.integers(0, 6, n)
    avals = rng.integers(-10**6, 10**6, alen.sum()).astype(np.int32)
    offs = np.concatenate(([0], np.cumsum(alen))).astype(np.int32)
    vocab1 = np.concatenate((WORDS, SPECIAL, MULTIBYTE)).astype(object)
    s1 = vocab1[rng.integers(0, len(vocab1), n)]
    s2 = np.array([f"{a}-{b:04d}" for a, b in zip(
        np.array(list("ABCDEFGH"))[rng.integers(0, 8, n)],
        rng.integers(0, 10_000, n))], dtype=object)
    dim_key = rng.integers(0, nd, n).astype(np.int32)
    dec = [decimal.Decimal(int(c)).scaleb(-2) for c in cents]
    table = pa.table({
        "id": pa.array(ids, pa.int64()),
        "i": pa.array(i32, pa.int32()),
        "d": pa.array(dbl, pa.float64()),
        "f": pa.array(flt, pa.float32()),
        "dec": pa.array(dec, pa.decimal128(12, 2)),
        "b": pa.array(boo, pa.bool_()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "dt": pa.array(days, pa.date32()),
        "arr": pa.ListArray.from_arrays(pa.array(offs), pa.array(avals, pa.int32())),
        "s1": pa.array(s1, pa.string()),
        "s2": pa.array(s2, pa.string()),
        "dim_key": pa.array(dim_key, pa.int32()),
    })
    _write(table, os.path.join(out, "typed.parquet"), PART_FILES)
    dim_name = _sentences(rng, nd, 1, 3, 0.1, 0.1)
    dim_weight = np.round(rng.random(nd) * 10, 3)
    _write(pa.table({
        "dim_key": pa.array(np.arange(nd, dtype=np.int32)),
        "dim_name": pa.array(dim_name, pa.string()),
        "dim_weight": pa.array(dim_weight, pa.float64()),
    }), os.path.join(out, "dim.parquet"))
    sample = []
    for i in _sample(rng, n, 200):
        k = int(dim_key[i])
        arr = avals[offs[i]:offs[i + 1]]
        sample.append({"id": int(ids[i]), "fields": {
            "id": ["int", str(ids[i])],
            "i": ["int", str(i32[i])],
            "d": ["double", repr(float(dbl[i]))],
            "f": ["float", repr(float(flt[i]))],
            "dec": ["decimal", str(dec[i])],
            "b": ["bool", "true" if boo[i] else "false"],
            "ts": ["ts", _ts_text(int(ts[i]))],
            "dt": ["date", str(dt.date(1970, 1, 1)
                               + dt.timedelta(days=int(days[i])))],
            "arr": ["ints", " ".join(map(str, arr.tolist()))],
            "s1": ["text", s1[i]],
            "s2": ["text", s2[i]],
            "dim_key": ["int", str(k)],
            "dim_name": ["text", dim_name[k]],
            "dim_weight": ["double", repr(float(dim_weight[k]))],
        }})
    props = {
        "rows": n, "dim_rows": nd,
        "key_shape": "single bigint key (id): the id is the key value",
        "xml_special_share": _share(s1, "[&<>]"),
        "join": "left join dim on dim_key (1 000 rows)",
    }
    expect = {"source_rows": n,
              "fields": list(table.column_names) + ["dim_name", "dim_weight"],
              "sample": sample}
    return props, expect


def gen_mix(rng, out):
    """documents / embeddings / events in the FIXTURES.md schemas with
    the fixture value invariants: documents text over a small vocabulary
    with 5% near-duplicates (another document's text plus " dup"), unit
    64-d float embeddings with ten labels, and time-ordered events with
    JSON-object props."""
    nd = ROWS["documents"]
    lens = rng.integers(10, 101, nd)
    words = WORDS[:31]
    text = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # exactly one near-duplicate per block of 20 documents, copying a
    # non-duplicate of the same block, so every seed gives the same
    # cluster structure (pairs, never chains)
    dups = np.arange(nd) % 20 == 19
    for i in np.flatnonzero(dups):
        text[i] = text[i - 1 - int(rng.integers(0, 19))] + " dup"
    langs = np.array(["en", "zh", "es", "fr", "de"])
    lang = langs[rng.choice(5, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    source = np.array([f"src{k}" for k in range(20)])[rng.integers(0, 20, nd)]
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }), os.path.join(out, "documents.parquet"))

    ne = ROWS["embeddings"]
    v = rng.normal(0, 1, (ne, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(ne, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, ne * 64 + 1, 64, dtype=np.int32)),
            pa.array(v.ravel(), pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne).astype(np.int32)),
    }), os.path.join(out, "embeddings.parquet"))

    nv = ROWS["events"]
    ts = EPOCH_2024 * 1_000_000 + np.sort(
        rng.integers(0, 30 * 86400 * 1_000_000, nv))
    types = np.array(["signup", "purchase", "view", "click", "error"])
    uid = rng.integers(0, USERS, nv)
    _write(pa.table({
        "event_id": pa.array(np.arange(nv, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(uid.astype(np.int64)),
        "event_type": pa.array(types[rng.integers(0, 5, nv)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50, nv), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, nv)],
                          pa.string()),
    }), os.path.join(out, "events.parquet"))
    props = {
        "documents": nd, "embeddings": ne, "events": nv,
        "near_dup_share": round(float(dups.mean()), 4),
        "distinct_users": int(len(np.unique(uid))),
        "key_shape": "bigint ids (doc_id, vec_id, event_id)",
    }
    return props, None


GENERATORS = {"pages": gen_pages, "typed": gen_typed, "mix": gen_mix}


def generate(kind, seed, out):
    """Write the inputs of one generator kind into `out`; return props."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    props, expect = GENERATORS[kind](rng, out)
    props = {"generator": kind, "seed": seed, **props}
    with open(os.path.join(out, "props.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    if expect is not None:
        with open(os.path.join(out, "expect.json"), "w") as f:
            json.dump(expect, f, ensure_ascii=False)
    return props


if __name__ == "__main__":
    kind, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(generate(kind, seed, out)))
