"""Seeded input generators for the benchmark, plus the expected results.

Everything here is a pure function of the seed: the same seed writes the same
files and returns the same expected values.

* ``pipeline_source`` writes a document source in the ``Schemas.sourceDoc``
  shape (``day1/`` as several files, ``day2/`` as one more file that the
  benchmark appends to the source directory), the
  ``sources_config`` dimension, and returns what ``Pipeline.run`` must report
  for a backfill over everything, for day 1, and for day 2 on top of day 1.
  The expectations come from ``simulate``, a model of the reference DAG over
  the generator's own rows; the program never sees them.
* ``query_tables`` writes the tables the query mix reads (documents,
  embeddings, events, lineitem, orders, customer) in the schemas of the
  repository's synthetic testdata, at a given scale factor.
"""
import datetime as _dt
import functools
import os
import random
import unicodedata

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 128
KEY_MAX = 100
FALLBACK = _dt.datetime(2024, 1, 1)
EPOCH = _dt.datetime(1970, 1, 1)
SOURCES = [f"src{i:02d}" for i in range(20)]
COUNTRIES = ["DE", "FR", "US", "JP", "KR", "CN", "BR", "ES"]
COLORS = [None, "", "Red", "red", "BLUE", "Blue ", "gr.een", "vi$olet"]
# Suffixes the key normalizer transliterates (hand pinyin, algorithmic
# Hangul, name-derived kana), so no character is dropped as unmapped.
CJK_SUFFIXES = ["中国", "한국", "서울", "カタ", "すし"]
FILLER = "abcdefghijklmnopqrstuvwxyz0123456789" * 4


def _micros(ts):
    return (ts - EPOCH) // _dt.timedelta(microseconds=1)


def iso(micros):
    """Python's ``datetime.isoformat()``: no fraction when it is zero."""
    ts = EPOCH + _dt.timedelta(microseconds=int(micros))
    return ts.strftime("%Y-%m-%dT%H:%M:%S") + (
        f".{ts.microsecond:06d}" if ts.microsecond else "")


def _is_cjk(ch):
    return ord(ch) >= 0x3000


@functools.lru_cache(maxsize=None)
def merge_key(cleaned_ref, color):
    """Identity of the normalized merge key (``Extract.mainRefco``).

    ASCII and accented text is normalized exactly (fold accents, drop ``.``
    and ``$``, right-trim spaces, lower-case, cap at 100 characters). CJK
    characters become opaque placeholders: two raw keys map to the same
    placeholder form exactly when their transliterations are equal, because
    the generator only uses a fixed set of CJK suffixes and never lets a
    CJK key reach the length cap.
    """
    ref = cleaned_ref or ""
    s = ref + "_" + color if color else ref
    if s.isascii():
        return s.replace(".", "").replace("$", "").rstrip(" ").lower()[:KEY_MAX]
    out = []
    for ch in s:
        if _is_cjk(ch):
            out.append(f"\x01{ord(ch):x}\x02")
        else:
            out.append(ch)
    s = "".join(out)
    s = "".join(c for c in unicodedata.normalize("NFKD", s)
                if not unicodedata.combining(c))
    s = s.replace(".", "").replace("$", "").rstrip(" ").lower()
    assert "\x01" not in s or len(s) < 60, "CJK key near the length cap"
    return s[:KEY_MAX]


def display_name(source, country):
    first = country[0] if country else None
    return f"{source} ({first if first else 'None'})"


# ---------------------------------------------------------------- pipeline

def _render_ref(rng, ent):
    """One raw rendering of entity ``ent``; every rendering of an entity
    normalizes to the same key."""
    kind, base, extra = ent
    if kind == "long":
        # only the first 100 characters survive the key cap, so renderings
        # that differ past it are one key
        tail = "".join(rng.choice(FILLER[:36]) for _ in range(21))
        return (base + "-" + extra)[:KEY_MAX] + tail
    r = rng.randrange(4)
    head = base
    if r == 1:
        head = head.upper()
    elif r == 2:
        head = "ré" + head[2:]          # accented: ré...
    elif r == 3:
        head = "RÉ" + head[2:].upper()  # RÉ...
    if kind == "punct":
        head = head[:3] + "." + head[3:6] + "$" + head[6:]
    if kind == "cjk":
        return head + " " + extra
    return head


def _entity(rng, i):
    u = rng.random()
    base = f"ref{i:07d}"
    if u < 0.70:
        ent = ("plain", base, None)
    elif u < 0.80:
        ent = ("punct", base, None)
    elif u < 0.86:
        ent = ("cjk", base, rng.choice(CJK_SUFFIXES))
    else:
        ent = ("long", base, FILLER[rng.randrange(36):][:110])
    color = rng.choice(COLORS)
    return ent, color


def _country(rng):
    u = rng.random()
    c = rng.choice(COUNTRIES)
    if u < 0.70:
        return [c]
    if u < 0.80:
        return [c, rng.choice(COUNTRIES)]
    if u < 0.90:
        return []
    return None


class _Rows:
    """Column buffers for one generated batch of source documents."""

    def __init__(self):
        self.cols = {k: [] for k in (
            "source", "ts", "emb_len", "cleaned_ref", "color", "category",
            "country", "embeddings_type", "for_matching", "vec0")}

    def add(self, **kw):
        for k, v in kw.items():
            self.cols[k].append(v)

    def __len__(self):
        return len(self.cols["source"])

    def rows(self):
        keys = list(self.cols)
        return [dict(zip(keys, vals)) for vals in zip(*self.cols.values())]


def _emit(rng, rows, ent, color, source, ts, seq):
    """Append one document; about 1.2% carry a quirk that keeps it out of
    the target (null/empty/wrong-width vector, null timestamp)."""
    q = rng.random()
    emb_len = DIM
    if q < 0.002:
        emb_len = None
    elif q < 0.004:
        emb_len = 0
    elif q < 0.007:
        emb_len = DIM - 1 if q < 0.0055 else DIM + 1
    elif q < 0.012:
        ts = None
    rows.add(source=source, ts=ts, emb_len=emb_len,
             cleaned_ref=_render_ref(rng, ent), color=color,
             category=["shoes", "bags", "", None][rng.randrange(4)],
             country=_country(rng),
             embeddings_type=rng.choice(["clip", "text", None]),
             for_matching=rng.choice([True, False, None]),
             vec0=float(seq % 997))


def _slots(rng, n, start, span_s):
    """``n`` distinct timestamps (micros) in ``[start, start+span_s)``;
    half on whole seconds so both ISO renderings occur."""
    width = max(1, span_s // n)
    off = np.arange(n, dtype=np.int64) * width * 1_000_000 + rng.integers(
        0, width * 1_000_000, n)
    whole = rng.random(n) < 0.5
    off[whole] -= off[whole] % 1_000_000
    rng.shuffle(off)
    return [int(_micros(start) + o) for o in off]


def _write_docs(rows, path, rng):
    n = len(rows)
    c = rows.cols
    lens = [0 if x is None else x for x in c["emb_len"]]
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    values = (rng.standard_normal(int(offsets[-1])) * 0.1).astype(np.float32)
    for i, ln in enumerate(lens):
        if ln:
            values[offsets[i]] = c["vec0"][i]
    mask = np.array([x is None for x in c["emb_len"]])
    emb = pa.ListArray.from_arrays(
        pa.array(offsets, mask=None), pa.array(values, type=pa.float32()),
        mask=pa.array(mask))
    table = pa.table({
        "source": pa.array(c["source"], pa.string()),
        "timestamp": pa.array(c["ts"], pa.timestamp("us", tz="UTC")),
        "embeddings": emb,
        "cleaned_ref": pa.array(c["cleaned_ref"], pa.string()),
        "color": pa.array(c["color"], pa.string()),
        "category": pa.array(c["category"], pa.string()),
        "country": pa.array(c["country"], pa.list_(pa.string())),
        "embeddings_type": pa.array(c["embeddings_type"], pa.string()),
        "for_matching": pa.array(c["for_matching"], pa.bool_()),
    })
    pq.write_table(table, path, compression="snappy")


def simulate(rows, dim_ids, prior_wm, prior_target):
    """Model of one ``Pipeline.run`` over ``rows`` (the whole source).

    Returns ``(stats, watermarks, target)``; ``target`` maps merge key to
    the live row. Mirrors the reference DAG: empty vectors are filtered at
    the scan, null timestamps and wrong widths are quarantined, a strict
    ``>`` watermark (``>=`` fallback) prunes, the latest row per key wins,
    the dimension join drops unmatched names, and the merge updates every
    column except ``cleaned_ref``.
    """
    fb = _micros(FALLBACK)
    quarantined = 0
    staged = []
    for r in rows:
        if not r["emb_len"]:
            continue
        if r["ts"] is None or r["emb_len"] != DIM:
            quarantined += 1
            continue
        wm = prior_wm.get(r["source"])
        if (r["ts"] > wm) if wm is not None else (r["ts"] >= fb):
            staged.append(r)
    maxima = {}
    for r in staged:
        maxima[r["source"]] = max(maxima.get(r["source"], r["ts"]), r["ts"])
    latest = {}
    for r in staged:
        k = merge_key(r["cleaned_ref"], r["color"])
        t = r["ts"]  # ISO strings of one format order like their instants
        cur = latest.get(k)
        assert cur is None or cur[0] != t, "tied timestamps within one key"
        if cur is None or t > cur[0]:
            latest[k] = (t, r)
    target = dict(prior_target)
    unique = 0
    for k, (t, r) in latest.items():
        dn = display_name(r["source"], r["country"])
        if dn not in dim_ids:
            continue
        unique += 1
        old = target.get(k)
        target[k] = {
            "cleaned_ref": old["cleaned_ref"] if old else (r["cleaned_ref"] or ""),
            "ts_micros": r["ts"], "dim_id": dim_ids[dn], "vec0": int(r["vec0"])}
    wms = dict(prior_wm)
    if staged:
        for s, m in maxima.items():
            wms[s] = max(wms.get(s, m), m)
    stats = {
        "records_processed": len(staged),
        "unique_records": unique if staged else 0,
        "quarantined": quarantined,
        "sources": len(maxima),
        "cjk_unmapped": 0,
    }
    return stats, wms, target


def fingerprint(target):
    """Order-independent content summary of a target, as the benchmark
    computes it in Spark over ``Upsert.readTarget``."""
    return {
        "rows": len(target),
        "sum_ts_micros": sum(v["ts_micros"] for v in target.values()),
        "sum_dim_id": sum(v["dim_id"] for v in target.values()),
        "sum_ref_len": sum(len(v["cleaned_ref"]) for v in target.values()),
        "sum_vec0": sum(v["vec0"] for v in target.values()),
        "dup_keys": 0,
        "bad_width": 0,
    }


def _wm_iso(wms):
    """Watermarks as ``yyyy-MM-ddTHH:mm:ss.ffffff`` (always six digits)."""
    return {s: (EPOCH + _dt.timedelta(microseconds=m)).strftime(
        "%Y-%m-%dT%H:%M:%S.%f") for s, m in sorted(wms.items())}


def pipeline_source(seed, out_dir, n_day1=100_000, day1_files=4):
    """Write ``day1/``, ``day2/`` and ``sources_config/`` under ``out_dir``;
    return the expected results of the three runs."""
    rng = random.Random(f"pipeline-{seed}")
    nrng = np.random.default_rng([seed, 1])
    day1_dir = os.path.join(out_dir, "day1")
    day2_dir = os.path.join(out_dir, "day2")
    dim_dir = os.path.join(out_dir, "sources_config")
    for d in (day1_dir, day2_dir, dim_dir):
        os.makedirs(d)

    names = [f"{s} ({c})" for s in SOURCES for c in COUNTRIES + ["None"]]
    unmatched = names[rng.randrange(len(names))]
    dim_ids = {n: 1000 + i for i, n in enumerate(names) if n != unmatched}
    pq.write_table(pa.table({
        "display_name": pa.array(list(dim_ids), pa.string()),
        "display_name_id": pa.array(list(dim_ids.values()), pa.int64()),
    }), os.path.join(dim_dir, "part-0.parquet"))

    # Day 1: ~8% of rows repeat an earlier entity (in-batch duplicates);
    # 0.5% predate the fallback date and never load.
    day1 = _Rows()
    ents = []
    ts1 = _slots(nrng, n_day1, _dt.datetime(2024, 3, 1), 30 * 86400)
    old = _slots(nrng, n_day1 // 200, _dt.datetime(2023, 12, 1), 20 * 86400)
    for i in range(n_day1):
        if ents and rng.random() < 0.08:
            ent, color = ents[rng.randrange(len(ents))]
        else:
            ent, color = _entity(rng, len(ents))
            ents.append((ent, color))
        ts = old[i // 200] if i % 200 == 7 else ts1[i]
        _emit(rng, day1, ent, color, rng.choice(SOURCES), ts, i)
    rows1 = day1.rows()
    st1, wm1, tgt1 = simulate(rows1, dim_ids, {}, {})

    # Day 2 (~2% of the target): half updates to day-1 entities (under a
    # fresh rendering), half new entities, 5% in-batch duplicates, plus
    # late rows below their source's watermark and rows exactly on it,
    # which the strict `>` filter must drop.
    n2 = max(20, len(tgt1) // 50)
    day2 = _Rows()
    ts2 = _slots(nrng, n2, _dt.datetime(2024, 4, 1), 86400)
    new_base = len(ents)
    picked = []
    for j in range(n2):
        if picked and rng.random() < 0.05:
            ent, color = picked[rng.randrange(len(picked))]
        elif j % 2 == 0:
            ent, color = ents[rng.randrange(new_base)]
        else:
            ent, color = _entity(rng, len(ents))
            ents.append((ent, color))
        picked.append((ent, color))
        _emit(rng, day2, ent, color, rng.choice(SOURCES),
              ts2[j], n_day1 + j)
    for j, s in enumerate(SOURCES[:10]):
        ent, color = _entity(rng, len(ents))
        ents.append((ent, color))
        late = wm1[s] - 3_600_000_000 - j
        day2.add(source=s, ts=late if j % 2 else wm1[s], emb_len=DIM,
                 cleaned_ref=_render_ref(rng, ent), color=color,
                 category="", country=["DE"], embeddings_type="clip",
                 for_matching=False, vec0=float(j))
    rows2 = day2.rows()

    per_file = -(-n_day1 // day1_files)
    for f in range(day1_files):
        part = _Rows()
        for r in rows1[f * per_file:(f + 1) * per_file]:
            part.add(**r)
        _write_docs(part, os.path.join(day1_dir, f"part-{f:04d}.parquet"), nrng)
    _write_docs(day2, os.path.join(day2_dir, "day2-0000.parquet"), nrng)

    st2, wm2, tgt2 = simulate(rows1 + rows2, dim_ids, wm1, tgt1)
    stb, wmb, tgtb = simulate(rows1 + rows2, dim_ids, {}, {})
    return {
        "seed": seed,
        "rows_day1": len(rows1), "rows_day2": len(rows2),
        "day1": {"stats": st1, "watermarks": _wm_iso(wm1), "target": fingerprint(tgt1)},
        "day2": {"stats": st2, "watermarks": _wm_iso(wm2), "target": fingerprint(tgt2)},
        "backfill": {"stats": stb, "watermarks": _wm_iso(wmb), "target": fingerprint(tgtb)},
    }


# ---------------------------------------------------------------- query mix

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3


def query_tables(seed, out_dir, sf=0.1):
    """Write the six tables the query mix reads, in the testdata schemas
    (FIXTURES.md section B), sized like the testdata at ``sf``."""
    rng = np.random.default_rng([seed, 2, int(sf * 1000)])
    os.makedirs(out_dir)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")

    n_ord, n_cust, n_part = int(1_500_000 * sf), int(150_000 * sf), int(200_000 * sf)
    n_li, n_supp = int(6_000_000 * sf), max(10, int(10_000 * sf))
    day = 86_400_000
    d0 = _micros(_dt.datetime(1995, 1, 1)) // 1000
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(d0 + rng.integers(0, 2500, n_li) * day,
                               pa.timestamp("ms")),
    })
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(d0 + rng.integers(0, 2400, n_ord) * day,
                                pa.timestamp("ms")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n_ord)]),
    })
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                rng.integers(0, 5, n_cust)]),
    })

    n_ev = int(1_000_000 * sf)
    t0 = _micros(_dt.datetime(2024, 1, 1))
    write("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, n_ev)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": pa.array(np.array(
            ["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    # Documents: bag-of-words texts; ~5% are an earlier original plus
    # " dup". Copying originals only keeps every near-duplicate cluster a
    # star, so the connected-components loops run the same number of rounds
    # for every seed.
    n_doc = int(50_000 * sf)
    words = np.array(WORDS)
    texts, langs, originals = [], [], []
    for i in range(n_doc):
        if len(originals) > 10 and rng.random() < 0.05:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(words[rng.integers(0, len(WORDS),
                                                     int(rng.integers(10, 101)))]))
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n_emb, edim = int(20_000 * sf), 64
    labels = rng.integers(0, 10, n_emb)
    cent = rng.standard_normal((10, edim))
    vec = cent[labels] + rng.standard_normal((n_emb, edim)) * 1.5
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_emb * edim + 1, edim, dtype=np.int32)),
            pa.array(vec.reshape(-1))),
        "label": pa.array(labels, pa.int32()),
    })
