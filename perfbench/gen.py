"""Seeded input generators for the benchmark.

Everything a run reads is made here, from `--seed`, by one process,
before the program starts:

* `tables(dir, seed, names)` writes the catalog's synthetic `events`,
  `documents` and `embeddings` tables (`<dir>/<name>.parquet`) at sf0.1
  sizes, in the shapes of FIXTURES.md §5.
* `spotify_day(seed, day)` builds one day of the recently-played feed
  (FIXTURES.md §1) as ≤50-item user pages, with the reference's edge
  cases in fixed proportions, plus the generator's own expected figures.
"""
import datetime as dt
import json
import os
from decimal import Decimal, ROUND_HALF_EVEN

import numpy as np
import pandas as pd
import pyarrow as pa

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])

WORDS = ("a the data spark stream batch table query key value row column "
         "join group sort order hash scan filter window merge agg line part "
         "vector customer fast slow big small").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DIM = 64

SIZES = {"events": 100000, "documents": 5000, "embeddings": 2000}


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(df, path, schema=None):
    df.to_parquet(path, index=False, engine="pyarrow", compression="snappy", schema=schema)


def write_docs(df, path):
    _write(df[DOC_SCHEMA.names], path, DOC_SCHEMA)


def write_emb(df, path):
    _write(df[EMB_SCHEMA.names], path, EMB_SCHEMA)


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def doc_texts(r, n):
    lens = r.integers(10, 101, n)
    words = r.integers(0, len(WORDS), int(lens.sum()))
    out, i = [], 0
    for k in lens:
        out.append(" ".join(WORDS[w] for w in words[i:i + k]))
        i += k
    return out


def documents(seed, n=SIZES["documents"], dups=8):
    """Documents `0 .. n-1`; `dups` later docs copy an earlier doc's text
    exactly (the exact-duplicate pairs dedup must find)."""
    r = _rng(seed, 9)
    text = doc_texts(r, n)
    for j in range(dups):
        a, b = sorted(r.choice(n, 2, replace=False))
        text[b] = text[a]
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids, "text": text,
        "lang": r.choice(LANGS, n, p=LANG_P),
        "source": ["src%d" % (i % 20) for i in ids],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})


def unit_vectors(r, labels, centers):
    v = centers[labels] + r.normal(0, 0.6, (len(labels), DIM)) / np.sqrt(DIM) * 4
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def embeddings(seed, n=SIZES["embeddings"]):
    r = _rng(seed, 10)
    centers = _rng(seed, 11).normal(0, 1, (10, DIM))
    labels = r.integers(0, 10, n).astype(np.int32)
    v = unit_vectors(r, labels, centers)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(v), "label": labels})


def events(seed, n=SIZES["events"]):
    r = _rng(seed, 7)
    secs = np.sort(r.uniform(0, 30 * 86400, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": (pd.to_datetime("2024-01-01") + pd.to_timedelta(
            np.round(secs * 1e6).astype(np.int64), unit="us")).astype("datetime64[us]"),
        "user_id": r.integers(0, 1500, n).astype(np.int64),
        "event_type": r.choice(EVENT_TYPES, n),
        "value": _money(r, 0, 560, n),
        "props": ['{"k": %d}' % k for k in r.integers(0, 100, n)]})


def tables(out_dir, seed, names):
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        path = os.path.join(out_dir, name + ".parquet")
        if name == "events":
            _write(events(seed), path)
        elif name == "documents":
            write_docs(documents(seed), path)
        elif name == "embeddings":
            write_emb(embeddings(seed), path)
        else:
            raise ValueError(name)


# ---------------------------------------------------------------- Spotify

ARTISTS = 60
TRACKS = 400


def _track(r, tid, null_fields):
    a = tid % ARTISTS
    t = {"id": "trk%04d" % tid, "name": "Song %d" % tid,
         "popularity": int((tid * 37) % 101), "duration_ms": 120000 + tid * 517,
         "explicit": tid % 7 == 0,
         "preview_url": None if tid % 3 == 0 else "https://p.example/%d" % tid,
         "external_urls": {"spotify": "https://open.example/track/%d" % tid},
         "album": {"id": "alb%03d" % (tid % 90), "name": "Album %d" % (tid % 90),
                   "release_date": "20%02d-01-01" % (tid % 24)},
         "artists": [{"id": "art%03d" % a, "name": "Artist %d" % a}]}
    if null_fields:
        t["name"] = None
        t["popularity"] = None
        t["album"] = None
        t["explicit"] = None
        t["artists"] = []
    return t


def spotify_day(seed, day, pages=24):
    """One day's recently-played feed: `pages` user pages of up to 50
    items. Every 8th page has empty `items`, every 19th item has no
    track, every 11th track has null fields; `played_at` is unique.
    Returns (jsonl lines, expected figures)."""
    r = _rng(seed, 100 + day)
    date = dt.date(2024, 3, 1) + dt.timedelta(days=day)
    sizes = [0 if p % 8 == 7 else int(r.integers(30, 51)) for p in range(pages)]
    total = sum(sizes)
    # distinct millisecond offsets within the day
    ms = np.sort(r.choice(86_400_000, total, replace=False))
    tids = r.integers(0, TRACKS, total)
    lines, rows, i = [], [], 0
    for size in sizes:
        items = []
        for _ in range(size):
            t = dt.datetime.combine(date, dt.time()) + dt.timedelta(milliseconds=int(ms[i]))
            played = t.strftime("%Y-%m-%dT%H:%M:%S.") + "%03dZ" % (int(ms[i]) % 1000)
            item = {"played_at": played}
            if i % 19 != 18:
                item["track"] = _track(r, int(tids[i]), i % 11 == 10)
            items.append(item)
            rows.append(item)
            i += 1
        lines.append(json.dumps({"items": items}))
    return lines, expected_plays(rows)


def flat_play(item):
    """EP2's flatten of one item, with the reference's defaults."""
    t = item.get("track") or {}
    artists = t.get("artists") or []
    return {"played_at": item["played_at"], "timestamp": item["played_at"][:10],
            "track_id": t.get("id") or "",
            "artist_name": (artists[0].get("name") if artists else None) or "Unknown",
            "artist_id": (artists[0].get("id") if artists else None) or "",
            "popularity": t.get("popularity") or 0,
            "explicit": bool(t.get("explicit") or False),
            "has_track": "track" in item}


def half_even(x, places=2):
    return float(Decimal(x).quantize(Decimal(1).scaleb(-places), rounding=ROUND_HALF_EVEN))


def expected_plays(items):
    flat = [flat_play(i) for i in items]
    ranked = [f for f in flat if f["has_track"]]
    order = sorted(ranked, key=lambda f: (_neg(f["played_at"]), f["track_id"]))
    pops = [f["popularity"] for f in ranked]
    return {
        "ep2": {"tracks_processed": len(flat),
                "unique_artists": len({f["artist_name"] for f in flat}),
                "date_range": "%s to %s" % (min(f["timestamp"] for f in flat),
                                            max(f["timestamp"] for f in flat)),
                "distinct_played_at": len({f["played_at"] for f in flat})},
        "ep3": {"tracks_processed": len(ranked),
                "unique_artists": len({f["artist_name"] for f in ranked}),
                "average_popularity": half_even(Decimal(sum(pops)) / Decimal(len(pops))),
                "explicit_tracks": sum(f["explicit"] for f in ranked)},
        "ep3_order": [f["played_at"] for f in order],
        "played_at": sorted(f["played_at"] for f in flat),
    }


def _neg(s):
    # descending string order as an ascending key
    return tuple(-ord(c) for c in s)
