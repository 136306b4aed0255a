"""Seeded input generators for the graft benchmark.

Every generator takes a seed and writes its inputs plus a ground-truth file
beside them; the same seed always yields byte-identical inputs. The program
under test only ever sees the generated inputs.

  enrich_stream  collector-TSV lines with a stated share of bad events, framed
                 as shard<TAB>seq<TAB>arrival_us<TAB>line in files released on
                 a fixed schedule, with a stated share of redelivered duplicates
  corpus_dedup   documents with stated exact-dup, near-dup, gate-fail and
                 contamination shares
"""

import json
import os
import random
import re
from urllib.parse import quote

# ---- shares stated by the benchmark --------------------------------------

BAD_UNKNOWN_CODE = 0.020   # e=<not a tracker event code>
BAD_PLATFORM = 0.015       # p=<not a valid platform>
BAD_BOTH = 0.005           # both of the above: two failure entities
BAD_LONG_UA = 0.010        # useragent longer than the 1000-char atomic limit
REDELIVERED = 0.05         # share of stream records delivered a second time

DOC_EXACT_DUP = 0.08       # normalization-equal copy of an earlier doc
DOC_NEAR_DUP = 0.10        # earlier doc with 2 tokens changed
DOC_CONTAMINATED = 0.02    # carries a 12-token span of a bench-slice doc
DOC_GATE_FAIL = 0.15       # fails exactly one quality or language gate

ENT_CODE = ("EnrichmentError: tracker_transform", "unknown event code")
ENT_PLATFORM = ("EnrichmentError: tracker_transform", "invalid platform")
ENT_UA = ("ValidationError", "useragent exceeds 1000 chars")

BASE_US = 1704067200000000  # 2024-01-01T00:00:00Z

# ---- event universe ------------------------------------------------------

USER_AGENTS = [
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) "
     "Chrome/120.0.0.0 Safari/537.36", 30),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) "
     "Chrome/119.0.0.0 Safari/537.36", 10),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) "
     "Version/17.1 Safari/605.1.15", 9),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) "
     "Version/17.1 Mobile/15E148 Safari/604.1", 14),
    ("Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 (KHTML, like Gecko) "
     "Chrome/120.0.6099.43 Mobile Safari/537.36", 12),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:121.0) Gecko/20100101 Firefox/121.0", 6),
    ("Mozilla/5.0 (X11; Linux x86_64; rv:120.0) Gecko/20100101 Firefox/120.0", 2),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) "
     "Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.61", 5),
    ("Mozilla/5.0 (iPad; CPU OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) "
     "Version/16.6 Mobile/15E148 Safari/604.1", 3),
    ("Mozilla/5.0 (Linux; Android 13; SM-S918B) AppleWebKit/537.36 (KHTML, like Gecko) "
     "SamsungBrowser/23.0 Chrome/115.0.0.0 Mobile Safari/537.36", 3),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) "
     "Chrome/120.0.0.0 Safari/537.36 OPR/105.0.0.0", 1),
    ("Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)", 2),
    ("Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)", 1),
    ("Mozilla/5.0 (compatible; YandexBot/3.0; +http://yandex.com/bots)", 1),
    ("curl/8.4.0", 1),
    ("python-requests/2.31.0", 1),
]

PAGE_HOSTS = [("www.shop.example.com", 40), ("shop.example.com", 10),
              ("blog.example.org", 20), ("news.example.net", 15), ("docs.example.io", 15)]
PAGE_PATHS = ["/", "/products", "/products/shoes", "/products/shoes/running", "/cart",
              "/checkout", "/search", "/blog/2024/01/spark-tuning", "/about", "/help/returns",
              "/account/orders", "/category/sale"]
SEARCH_TERMS = ["running shoes", "trail shoes sale", "spark streaming", "return policy",
                "gift card", "red dress", "waterproof jacket", "discount code"]
CAMPAIGNS = ["spring_sale", "retargeting", "newsletter_42", "brand", "launch"]
SOURCES = ["google", "newsletter", "facebook", "partner_site"]
MEDIUMS = ["cpc", "email", "social", "referral"]
EVENT_CODES = [("pv", 55), ("pp", 20), ("se", 12), ("ue", 6), ("tr", 4), ("ti", 2), ("ad", 1)]
PLATFORMS = [("web", 80), ("mob", 12), ("app", 6), ("tv", 2)]
RESOLUTIONS = ["1920x1080", "1366x768", "390x844", "412x915", "2560x1440", "1280x800"]
CURRENCIES = ["USD", "EUR", "GBP", "JPY"]


def _pick(rng, weighted):
    total = sum(w for _, w in weighted)
    x = rng.random() * total
    for v, w in weighted:
        x -= w
        if x < 0:
            return v
    return weighted[-1][0]


def _referer(rng, page_host):
    r = rng.random()
    term = quote(rng.choice(SEARCH_TERMS), safe="").replace("%20", "+")
    if r < 0.25:
        return "https://www.google.com/search?q=" + term
    if r < 0.32:
        return "https://www.bing.com/search?q=" + term
    if r < 0.40:
        return "https://www.facebook.com/"
    if r < 0.44:
        return "https://t.co/abc123"
    if r < 0.60:
        return "https://" + page_host + rng.choice(PAGE_PATHS)
    if r < 0.66:
        return "https://internal.example.com/portal"
    if r < 0.75:
        return "https://forum.example-community.com/t/" + str(rng.randrange(1000))
    return None


def _event(rng, eid, kind):
    """One collector-TSV line. `kind` is None (valid) or the bad-event kind."""
    ts = BASE_US + eid * 37_000 + rng.randrange(37_000)
    r = rng.random()
    v4 = "%d.%d.%d.%d" % (rng.randrange(1, 224), rng.randrange(256), rng.randrange(256),
                          rng.randrange(1, 255))
    if r < 0.05:
        ip = "2001:db8:%x:%x::%x" % (rng.randrange(65536), rng.randrange(65536), rng.randrange(65536))
    elif r < 0.08:
        ip = v4 + ", 10.0.%d.%d" % (rng.randrange(256), rng.randrange(256))
    else:
        ip = v4
    ua = _pick(rng, USER_AGENTS)
    if kind == "long_ua":
        target = 1001 + rng.randrange(400)
        i = 0
        while len(ua) < target:
            ua += " ext%d/1.%d" % (i, i % 10)
            i += 1
    host = _pick(rng, PAGE_HOSTS)
    path = rng.choice(PAGE_PATHS)
    page = "https://" + host + path
    q = []
    if rng.random() < 0.3:
        q.append("utm_source=" + rng.choice(SOURCES))
        q.append("utm_medium=" + rng.choice(MEDIUMS))
        q.append("utm_campaign=" + rng.choice(CAMPAIGNS))
        if rng.random() < 0.3:
            q.append("utm_term=" + quote(rng.choice(SEARCH_TERMS), safe="").replace("%20", "+"))
    if rng.random() < 0.08:
        q.append(rng.choice(["gclid", "msclkid", "fbclid"]) + "=Cj0K%06d" % rng.randrange(10 ** 6))
    full_url = page + ("?" + "&".join(q) if q else "")
    code = _pick(rng, EVENT_CODES)
    platform = _pick(rng, PLATFORMS)
    if kind in ("code", "both"):
        code = rng.choice(["zz", "pvx", "unknown"])
    if kind in ("platform", "both"):
        platform = rng.choice(["xbox", "desktop", "WEB"])
    dtm = ts // 1000 - rng.randrange(5, 3000)
    qs = ["e=" + code, "p=" + platform, "res=" + rng.choice(RESOLUTIONS),
          "uid=u%d" % rng.randrange(5000), "dtm=%d" % dtm, "stm=%d" % (dtm + rng.randrange(1, 400))]
    if rng.random() < 0.1:
        qs.append("ttm=%d" % (dtm - 10))
    qs.append("url=" + quote(full_url, safe=""))
    refr = _referer(rng, host)
    if refr is not None:
        qs.append("refr=" + quote(refr, safe=""))
    if code == "tr":
        qs.append("tr_tt=%d.%02d" % (rng.randrange(5, 500), rng.randrange(100)))
        qs.append("tr_cu=" + rng.choice(CURRENCIES))
    if rng.random() < 0.05:
        qs.append("_sp=d%08x.%d" % (rng.randrange(1 << 32), ts // 1000 - 60_000))
    qs.append("eid=%d" % eid)
    return "\t".join([str(ts), ip, ua, page, code, "&".join(qs)])


def _kinds(rng, n):
    """Deterministic bad-event assignment: exactly round(share * n) of each kind."""
    kinds = [None] * n
    counts = [("code", BAD_UNKNOWN_CODE), ("platform", BAD_PLATFORM),
              ("both", BAD_BOTH), ("long_ua", BAD_LONG_UA)]
    slots = rng.sample(range(n), sum(round(s * n) for _, s in counts))
    i = 0
    for kind, share in counts:
        for _ in range(round(share * n)):
            kinds[slots[i]] = kind
            i += 1
    return kinds


def _entities(kind):
    return {None: [], "code": [ENT_CODE], "platform": [ENT_PLATFORM],
            "both": [ENT_CODE, ENT_PLATFORM], "long_ua": [ENT_UA]}[kind]


def _events(rng, n, first_eid=0):
    kinds = _kinds(rng, n)
    return [(first_eid + i, _event(rng, first_eid + i, kinds[i]), kinds[i]) for i in range(n)]


def _write_event_truth(path, events):
    bad = {}
    for eid, _, kind in events:
        if kind is not None:
            bad[str(eid)] = sorted("|".join(e) for e in _entities(kind))
    truth = {
        "events": len(events),
        "good": len(events) - len(bad),
        "bad": len(bad),
        "failure_entities": sum(len(v) for v in bad.values()),
        "eid_min": events[0][0],
        "eid_max": events[-1][0],
        "bad_entities": bad,
    }
    with open(path, "w") as f:
        json.dump(truth, f)


def _write_lines(path, lines):
    with open(path, "w") as f:
        for line in lines:
            f.write(line)
            f.write("\n")


def _shard_files(events, per_file, interval_s, shards, rng):
    """Frame events into release files:
    [[due_s, framed lines, first-delivery eids, redelivered count]].

    A redelivered record is the identical framed line appearing again in a
    later file (the checkpoint-gap replay of an at-least-once broker)."""
    framed = []
    for eid, line, _ in events:
        # per-shard sequence numbers are unique across the whole stream
        shard, seq = eid % shards, eid // shards + 1
        arrival = BASE_US + eid * 37_000
        framed.append((eid, "%d\t%d\t%d\t%s" % (shard, seq, arrival, line)))
    files = []
    for k in range(0, len(framed), per_file):
        chunk = framed[k:k + per_file]
        files.append([(k // per_file) * interval_s,
                      [l for _, l in chunk], [e for e, _ in chunk], 0])
    for k, f in enumerate(files):
        if k < 2:
            continue
        src = files[k - 2]
        n_dup = round(REDELIVERED * len(src[1]))
        for i in sorted(rng.sample(range(len(src[1])), n_dup)):
            f[1].append(src[1][i])
        f[3] = n_dup
    return files


def enrich_stream(out, seed, rate, interval_s, seconds, drain_events, drain_rounds, n_warm):
    """`drain_rounds` backlogs of `drain_events` each, every backlog released
    at once; then the fixed-rate phase: `rate` events/s, one file every
    `interval_s`, for `seconds`."""
    rng = random.Random(seed)
    per_file = int(round(rate * interval_s))
    n_files = int(round(seconds / interval_s))
    n_drain = drain_events * drain_rounds
    # ids, and so arrival times, rise in release order (backlogs first): the
    # redelivery dedup drops records older than its arrival-time watermark
    events = _events(rng, n_drain + per_file * n_files)
    shards = 4
    phases = []
    for r in range(drain_rounds):
        chunk = events[r * drain_events:(r + 1) * drain_events]
        phases.append(("drain%d" % r, _shard_files(chunk, max(1, drain_events // 8), 0.0,
                                                   shards, rng)))
    phases.append(("fixed", _shard_files(events[n_drain:], per_file, interval_s, shards, rng)))
    manifest = {}
    for phase, files in phases:
        d = os.path.join(out, phase)
        os.makedirs(d, exist_ok=True)
        manifest[phase] = []
        for k, (due, lines, eids, n_dup) in enumerate(files):
            name = "part-%05d.txt" % k
            _write_lines(os.path.join(d, name), lines)
            manifest[phase].append({"name": name, "due_s": due, "events": len(eids),
                                    "redelivered": n_dup})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    _write_lines(os.path.join(out, "unique.tsv"), (l for _, l, _ in events))
    # one fixed-rate micro-batch worth of lines, for the per-stage attribution
    _write_lines(os.path.join(out, "sample.tsv"), (l for _, l, _ in events[n_drain:n_drain + per_file * 10]))
    _write_event_truth(os.path.join(out, "truth.json"), events)
    warm = _events(random.Random(seed + 1), n_warm, first_eid=10 ** 9)
    wfiles = _shard_files(warm, max(1, n_warm // 4), 0.0, shards, random.Random(seed + 2))
    wd = os.path.join(out, "warm")
    os.makedirs(wd, exist_ok=True)
    for k, (_, lines, _, _) in enumerate(wfiles):
        _write_lines(os.path.join(wd, "part-%05d.txt" % k), lines)


# ---- documents -----------------------------------------------------------

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
             "on", "for", "with", "as", "at", "by", "this", "that", "be", "are"]
_SYL = ["ka", "lo", "mi", "ren", "tu", "sa", "vex", "dor", "pli", "qua", "zen", "bra",
        "fo", "gu", "hin", "jor", "nel", "ost", "pra", "wil"]

BENCH_MOD, BENCH_REM = 101, 7       # the corpus's held-out eval slice
DECONTAM_K = 8                      # decontamination shingle width


def _norm_tokens(text):
    n = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()
    return [] if n == "" else n.split(" ")


def gate_pass(text):
    """Python twin of the corpus gates: language (stopword share >= 0.08),
    30..5000 tokens, unique-token share >= 0.10, punctuation share <= 0.20."""
    toks = _norm_tokens(text)
    if not toks:
        return False
    stop = sum(1 for t in toks if t in STOPWORDS) / len(toks)
    uniq = len(set(toks)) / len(toks)
    no_space = re.sub(r"[ \t\n\x0b\f\r]", "", text)
    punct = (len(re.sub(r"[a-zA-Z0-9]", "", no_space)) / len(no_space)) if no_space else 0.0
    return stop >= 0.08 and 30 <= len(toks) <= 5000 and uniq >= 0.10 and punct <= 0.20


def _vocab(rng, n):
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYL) for _ in range(rng.randrange(2, 4))))
    return sorted(words)


def _sentence_doc(rng, vocab, n_tokens):
    out = []
    for i in range(n_tokens):
        out.append(rng.choice(STOPWORDS) if rng.random() < 0.25 else rng.choice(vocab))
    text = " ".join(out)
    return text[0].upper() + text[1:] + "."


def _gate_fail_doc(rng, vocab, mode):
    if mode == 0:      # too short
        return _sentence_doc(rng, vocab, rng.randrange(8, 25))
    if mode == 1:      # no stopwords: language gate
        return " ".join(rng.choice(vocab) for _ in range(rng.randrange(60, 160))) + "."
    if mode == 2:      # repetitive: unique-token gate
        few = [rng.choice(vocab) for _ in range(3)] + ["the"]
        return " ".join(rng.choice(few) for _ in range(rng.randrange(60, 120)))
    words = _sentence_doc(rng, vocab, rng.randrange(60, 120)).split(" ")   # punctuation gate
    return " ".join(w + "!!" for w in words)


def _docs(rng, n, vocab, first_id):
    """[(doc_id, text, family)] where family links exact and near duplicates."""
    docs = []
    family = []
    for i in range(n):
        doc_id = first_id + i
        r = rng.random()
        base = docs[rng.randrange(len(docs))] if docs and r < DOC_EXACT_DUP + DOC_NEAR_DUP else None
        if base is not None and r < DOC_EXACT_DUP:
            # normalization-equal copy: same fingerprint, different bytes
            text = base[1].upper() if rng.random() < 0.5 else base[1].rstrip(".") + " !"
            fam = family[base[0] - first_id]
        elif base is not None:
            toks = base[1].split(" ")
            for _ in range(2):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            text = " ".join(toks)
            fam = family[base[0] - first_id]
        elif r < DOC_EXACT_DUP + DOC_NEAR_DUP + DOC_GATE_FAIL:
            text = _gate_fail_doc(rng, vocab, rng.randrange(4))
            fam = doc_id
        else:
            text = _sentence_doc(rng, vocab, rng.randrange(60, 220))
            fam = doc_id
        docs.append((doc_id, text))
        family.append(fam)
    # contamination: splice a 12-token span of a bench-slice doc into others
    bench = [d for d in docs if d[0] % BENCH_MOD == BENCH_REM and len(_norm_tokens(d[1])) >= 40]
    if bench:
        for k in rng.sample(range(n), round(DOC_CONTAMINATED * n)):
            if docs[k][0] % BENCH_MOD == BENCH_REM:
                continue
            src = _norm_tokens(rng.choice(bench)[1])
            s = rng.randrange(len(src) - 12)
            docs[k] = (docs[k][0], docs[k][1] + " " + " ".join(src[s:s + 12]))
    return [(d[0], d[1], family[d[0] - first_id]) for d in docs]


def _doc_truth(docs):
    fp_group = {}
    keeper = {}
    for doc_id, text, _ in docs:
        key = " ".join(_norm_tokens(text))
        fp_group.setdefault(key, doc_id)
        keeper[doc_id] = fp_group[key]
    bench_sh = set()
    for doc_id, text, _ in docs:
        if doc_id % BENCH_MOD == BENCH_REM:
            t = _norm_tokens(text)
            bench_sh.update(" ".join(t[i:i + DECONTAM_K]) for i in range(len(t) - DECONTAM_K + 1))
    rows = {}
    for doc_id, text, fam in docs:
        t = _norm_tokens(text)
        is_bench = doc_id % BENCH_MOD == BENCH_REM
        contaminated = (not is_bench) and any(
            " ".join(t[i:i + DECONTAM_K]) in bench_sh for i in range(len(t) - DECONTAM_K + 1))
        rows[str(doc_id)] = [keeper[doc_id], fam, gate_pass(text), is_bench, contaminated]
    return rows


def _write_documents(d, docs, n_files):
    """documents.parquet as a directory of `n_files` files, as a corpus shard
    lands (the scan runs one task per file)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    path = os.path.join(d, "documents.parquet")
    os.makedirs(path)
    per = -(-len(docs) // n_files)
    for k in range(n_files):
        chunk = docs[k * per:(k + 1) * per]
        pq.write_table(pa.table({
            "doc_id": pa.array([x[0] for x in chunk], pa.int64()),
            "text": [x[1] for x in chunk],
            "lang": ["en"] * len(chunk),
            "source": ["src%d" % (x[0] % 7) for x in chunk],
            "n_chars": pa.array([len(x[1]) for x in chunk], pa.int64()),
        }), os.path.join(path, "part-%05d.parquet" % k))


def corpus_dedup(out, seed, n_docs, n_warm):
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)
    docs = _docs(rng, n_docs, vocab, 0)
    _write_documents(os.path.join(out, "tables"), docs, 8)
    _write_documents(os.path.join(out, "warm_tables"), _docs(random.Random(seed + 1), n_warm, vocab, 0), 8)
    truth = _doc_truth(docs)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"docs": len(docs),
                   "columns": ["fp_keeper", "family", "gate_pass", "bench", "contaminated"],
                   "rows": truth}, f)
