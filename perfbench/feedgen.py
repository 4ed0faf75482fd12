"""Seeded, single-threaded generator of reference-format TSV hit feeds.

A feed is a set of hourly files of 10-column Adobe-style lines
(ts, visitor id halves, tracking code, products, event codes, page,
site server, IBM id, SCV id). Visitor activity is Zipf-skewed, a visit has
about five hits, and about 1 % of lines carry one planted defect that the
parser must drop: `short_row` (8 columns), `bad_ts` (non-numeric
timestamp) or `bad_product` (product string without `;`). Page names carry
non-ASCII letters, so Latin-1 and UTF-8 feeds differ byte for byte.

Next to the feed the generator writes `truth.json`, the ground truth the
benchmark checks every operation against. It sessionizes the emitted
lines itself (30-minute gap, a gap of exactly 30 minutes splits) rather
than trusting how visits were drawn, because a heavy visitor's draws can
merge into one visit.

Digests are order independent: the sum of CRC-32 values of one canonical
string per row. A visit's string is `user_id,visit_start,visit_end`
(unix seconds), a hit's is its page name in UTF-8.

    python3 perfbench/feedgen.py --workload feed_batch --seed 1 --out DIR
"""

import argparse
import bisect
import gzip
import json
import os
import random
import zlib

GAP_S = 1800
DAY0 = 1_700_006_400  # 2023-11-15T00:00:00Z, an hour boundary

PAGES = [
    "Startseite", "Produktübersicht", "Größentabelle", "Café & Bar",
    "Kasse", "Warenkorb", "Übersicht Bestellungen", "Crème brûlée",
    "São Paulo Filiale", "Niño Kollektion", "Señora Mode", "Straße & Haus",
    "Garçon", "Hilfe", "Suche", "Konto", "Ångström Lampen", "Fußball",
]
SERVERS = ["www.shop.de", "m.shop.de", "app.shop.de"]
TRACKING = ["", "", "", "em_spring", "sea_brand", "aff_23", "soc_fb"]
EVENT_CODES = ["1", "2", "11", "12", "13", "14", "204"]

# Per workload: hourly files, lines per file, charset, gzip, visitor pool.
SPECS = {
    "feed_batch": dict(hours=24, hits=12_000, encoding="UTF-8", gz=False,
                       visitors=40_000),
    "feed_hourly": dict(hours=4, hits=10_000, encoding="ISO-8859-1", gz=True,
                        visitors=8_000),
    "feed_stream": dict(hours=4, hits=15_000, encoding="ISO-8859-1", gz=True,
                        visitors=25_000),
}
# A stream over any feed drains its first STREAM_FILES hourly files.
STREAM_FILES = 4
DEFECT_RATE = 0.01
HITS_PER_VISIT = 5.0
# Bump when the feed format or the truth schema changes, so cached feeds
# from an older generator are not reused.
VERSION = 4


def _zipf_cum(n, s=0.9, q=200):
    """Cumulative Zipf-Mandelbrot weights 1 / (rank + q) ** s. The offset
    `q` flattens the head: with plain Zipf the top visitor is active all
    day and merges its visits into one."""
    cum, acc = [], 0.0
    for i in range(1, n + 1):
        acc += 1.0 / (i + q) ** s
        cum.append(acc)
    return cum


def _visits(rng, hour, n_hits, cum):
    """Draw visits until `n_hits` hits lie in [hour, hour + 1 h)."""
    start_h = DAY0 + hour * 3600
    end_h = start_h + 3600
    hits = []
    while len(hits) < n_hits:
        vid = bisect.bisect_left(cum, rng.random() * cum[-1])
        t = start_h + rng.randrange(3600)
        k = 1 + int(rng.expovariate(1.0 / (HITS_PER_VISIT - 1.0)))
        for _ in range(k):
            if t >= end_h or len(hits) == n_hits:
                break
            hits.append((t, vid))
            t += 1 + int(min(rng.expovariate(1.0 / 90.0), GAP_S - 100))
    hits.sort()
    return hits


def _line(rng, t, vid):
    products = "" if rng.random() < 0.7 else \
        f";SKU{rng.randrange(5000)};1;{rng.randrange(100, 9999) / 100}"
    events = ",".join(sorted(rng.sample(EVENT_CODES, rng.randrange(0, 3)),
                             key=int))
    page = rng.choice(PAGES)
    fields = [str(t), str(100_000 + vid * 7), f"m{vid % 13}",
              rng.choice(TRACKING), products, events, page,
              rng.choice(SERVERS), f"ibm{vid}", f"scv{vid % 50_000}"]
    reason = None
    if rng.random() < DEFECT_RATE:
        reason = rng.choice(["short_row", "bad_ts", "bad_product"])
        if reason == "short_row":
            fields = fields[:8]
        elif reason == "bad_ts":
            fields[0] = rng.choice(["", "n/a", fields[0] + "Z"])
        else:
            fields[4] = f"SKU{rng.randrange(5000)}"
    return "\t".join(fields), reason, fields


def _sessionize(hits):
    """hits: (ts, user_id) pairs -> list of (user_id, start, end)."""
    by_user = {}
    for t, u in hits:
        by_user.setdefault(u, []).append(t)
    visits = []
    for u, ts in by_user.items():
        ts.sort()
        start = prev = ts[0]
        for t in ts[1:]:
            if t - prev >= GAP_S:
                visits.append((u, start, prev))
                start = t
            prev = t
        visits.append((u, start, prev))
    return visits


def _crc(s):
    return zlib.crc32(s.encode("utf-8"))


def _truth(lines, drops, hits, pages):
    visits = _sessionize(hits)
    return {
        "lines": lines,
        "hits": len(hits),
        "drops": drops,
        "visits": len(visits),
        "visits_digest": sum(_crc(f"{u},{s},{e}") for u, s, e in visits),
        "pages_digest": sum(_crc(p) for p in pages),
    }


def _write(path, lines, spec):
    data = ("\n".join(lines) + "\n").encode(spec["encoding"])
    with open(path, "wb") as f:
        if spec["gz"]:
            with gzip.GzipFile(fileobj=f, mode="wb", mtime=0) as g:
                g.write(data)
        else:
            f.write(data)


def generate(workload, seed, out):
    spec = SPECS[workload]
    rng = random.Random(f"{workload}:{seed}")
    cum = _zipf_cum(spec["visitors"])
    os.makedirs(out, exist_ok=True)
    ext = ".tsv.gz" if spec["gz"] else ".tsv"
    files, all_hits, all_pages, stream_hits = [], [], [], []
    all_drops = {"short_row": 0, "bad_ts": 0, "bad_product": 0}
    for h in range(spec["hours"]):
        name = f"hits-{h:02d}{ext}"
        hits, pages, text = [], [], []
        drops = {"short_row": 0, "bad_ts": 0, "bad_product": 0}
        for t, vid in _visits(rng, h, spec["hits"], cum):
            line, reason, fields = _line(rng, t, vid)
            text.append(line)
            if reason:
                drops[reason] += 1
            else:
                hits.append((t, f"{fields[1]}_{fields[2]}"))
                pages.append(fields[6])
        path = os.path.join(out, name)
        _write(path, text, spec)
        # The file source orders files by modification time: stamp each
        # with its hour so a stream reads them oldest first.
        os.utime(path, (DAY0 + h * 3600, DAY0 + h * 3600))
        truth = _truth(len(text), drops, hits, pages)
        truth["file"] = name
        files.append(truth)
        all_hits += hits
        all_pages += pages
        if h < STREAM_FILES:
            stream_hits += hits
        for k in drops:
            all_drops[k] += drops[k]
    # A tiny feed in the same format for the untimed warm-up run.
    os.makedirs(os.path.join(out, "warmup"), exist_ok=True)
    _write(os.path.join(out, "warmup", f"hits-00{ext}"),
           [_line(rng, t, vid)[0] for t, vid in _visits(rng, 0, 300, cum)],
           spec)
    whole = _truth(sum(f["lines"] for f in files), all_drops,
                      all_hits, all_pages)
    # For the stream's sealed-visit check: each visit of the streamed files
    # by its last hit and CRC, ordered by last hit, so that any watermark
    # selects a prefix.
    ends = sorted((e, _crc(f"{u},{s},{e}"))
                  for u, s, e in _sessionize(stream_hits))
    whole.update(workload=workload, seed=seed, version=VERSION,
                 encoding=spec["encoding"], files=files,
                 stream_files=STREAM_FILES,
                 visit_ends=[[e, c] for e, c in ends])
    tmp = os.path.join(out, "truth.json.tmp")
    with open(tmp, "w") as f:
        json.dump(whole, f)
    os.replace(tmp, os.path.join(out, "truth.json"))
    return whole


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    t = generate(a.workload, a.seed, a.out)
    print(json.dumps({k: t[k] for k in ("lines", "hits", "drops", "visits")}))


if __name__ == "__main__":
    main()
