"""Seeded input generator and independent oracle for the perfbench workloads.

Everything the engine sees is written here from one integer seed; the same
seed always yields byte-identical inputs. The expected outputs are computed
from the same inputs without Spark: DuckDB for the dashboard SQL, plain
Python/numpy for the curation operators (whose hashing and tokenisation
rules are restated below).
"""
import hashlib
import json
import os
import re
from decimal import Context, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes
# The dashboard tables have the sizes of the sf0.1 test data (lineitem 600k,
# orders 150k, customer 15k, part 20k, supplier 1k, events 100k). The
# curation corpus is half of sf0.1's (5,000 documents, 2,000 x 64
# embeddings): at the full size a job takes 20-24 s on 4 cores and a run
# 73 s, more than the run budget allows; see README.md.
COINS = 2000                 # coins per hourly payload (2 quote currencies each)
COIN_PRESENCE = 0.97         # share of coins present in a given hour
BACKFILL_HOURS = 24          # hours already in the warehouse before the run
RECENT_HOURS = 6             # the dashboard's "last hours" panel
BASE_EPOCH_S = 1767225600    # 2026-01-01T00:00:00Z, hour 0 of the price feed
WINDOWS_MAX = 3              # measured windows in a run (a traced run has 3)
WINDOW_BATCHES = 3           # bi_dashboard writer batches per measured window

N_DOCS = 2500                # curation corpus size
N_EXACT, N_NEAR, N_FAR = 100, 150, 50    # planted copies, each of its own source
N_PII = 300                  # documents given an email or IPv4 token
N_HOLDOUT = 150              # evaluation documents for decontamination
N_QUOTING = 90               # holdout documents quoting a corpus passage
N_VECS = 1000                # embeddings
N_VEC_PAIRS = 80             # planted near pairs among them
DIM = 64
N_WARM_DOCS, N_WARM_VECS = 500, 200    # the curation warm-up job's slice
N_ORDERS = 150000            # dashboard tables
N_LINES = 600000
N_CUSTOMERS = 15000
N_PARTS = 20000
N_SUPPLIERS = 1000
N_EVENTS = 100000

SIM_THRESHOLD = 0.9          # Similarity.lshSimilarPairs threshold
JACCARD_THRESHOLD = 0.6      # Dedup.nearDuplicatePairs default
SHINGLE_K = 3
NGRAM_N = 3
SIMHASH_MAX_HAMMING = 6
EMAIL_RE = re.compile(r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}")
IP_RE = re.compile(r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b")


def _rng(seed, *stream):
    return np.random.default_rng([seed, *stream])


# ---------------------------------------------------------------- prices
def coin_ids():
    return [f"coin-{i:05d}" for i in range(COINS)]


def hour_prices(seed, hour):
    """(coin, usd, eur) for one hour; usd/eur are whole cents so that the
    decimal casts in the dashboard SQL are exact in every engine."""
    rng = _rng(seed, 1, hour)
    present = rng.random(COINS) < COIN_PRESENCE
    usd = rng.integers(1, 10_000_000, COINS) / 100.0
    eur = rng.integers(1, 10_000_000, COINS) / 100.0
    ids = coin_ids()
    return [(ids[i], float(usd[i]), float(eur[i])) for i in range(COINS) if present[i]]


def payload_json(rows):
    return json.dumps({c: {"usd": u, "eur": e} for c, u, e in rows}, separators=(",", ":"))


def write_backfill(seed, path):
    """The warehouse state before the run: BACKFILL_HOURS hourly batches."""
    os.makedirs(path, exist_ok=True)
    ids, usd, ts = [], [], []
    for h in range(BACKFILL_HOURS):
        for c, u, _ in hour_prices(seed, h):
            ids.append(c)
            usd.append(u)
            ts.append((BASE_EPOCH_S + 3600 * h) * 1_000_000)
    table = pa.table({
        "crypto_id": pa.array(ids, pa.string()),
        "price_usd": pa.array(usd, pa.float64()),
        "extracted_at": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })
    pq.write_table(table, os.path.join(path, "part-backfill.parquet"))
    return len(ids)


def write_feed(seed, d):
    """The price feed the bi_dashboard writer offers, and its layout. The
    warm-up runs a fresh hour and a replay of a seeded backfilled hour (the
    ON CONFLICT DO NOTHING path) on a table of its own; each measured window
    then runs WINDOW_BATCHES fresh hours on the served table, in order."""
    replay = int(_rng(seed, 2).integers(0, BACKFILL_HOURS))
    warmup = [[BACKFILL_HOURS, 0], [replay, 1]]
    windows = [[BACKFILL_HOURS + w * WINDOW_BATCHES + i for i in range(WINDOW_BATCHES)]
               for w in range(WINDOWS_MAX)]
    hours = sorted({h for h, _ in warmup} | {h for w in windows for h in w})
    with open(os.path.join(d, "payloads.tsv"), "w") as f:
        for h in hours:
            f.write(f"{h}\t{payload_json(hour_prices(seed, h))}\n")
    with open(os.path.join(d, "feed.json"), "w") as f:
        json.dump({"base_epoch_s": BASE_EPOCH_S, "backfill_hours": BACKFILL_HOURS,
                   "warmup": warmup, "windows": windows}, f)


def dashboard_sql(queries):
    """The dashboard with its hour bounds filled in from the feed layout:
    the panels read only backfilled hours, so the writer's appends cannot
    change their answers."""
    end = BASE_EPOCH_S + 3600 * BACKFILL_HOURS
    bounds = {"{backfill_end_s}": str(end),
              "{recent_start_s}": str(end - 3600 * RECENT_HOURS)}
    out = []
    for q in queries:
        q = dict(q)
        for k in ("spark", "duckdb"):
            if k in q:
                for name, v in bounds.items():
                    q[k] = q[k].replace(name, v)
        out.append(q)
    return out


def expected_price_rows(seed, hours):
    """Distinct (coin, hour) keys offered over `hours`."""
    return sum(len(hour_prices(seed, h)) for h in set(hours))


# ---------------------------------------------------------------- corpus
def _vocab(rng, n=20000):
    syl = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "da", "zu",
           "fo", "gi", "he", "ju", "ba", "co", "xe", "ny", "wa", "qu", "ol"]
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(syl[int(j)] for j in rng.integers(0, len(syl), k)))
    return sorted(words)


def corpus(seed):
    """(docs, holdout): docs are (doc_id, text, lang, source). Planted, in
    fixed numbers so that every seed gives the operators the same amount
    of work: exact duplicates under case/whitespace changes, near duplicates
    (a few words substituted) and far edits (many substituted), each copied
    from its own source document; PII tokens in other documents; holdout
    documents that quote passages of yet other documents."""
    rng = _rng(seed, 4)
    vocab = _vocab(rng)

    def words(k):
        return [vocab[int(j)] for j in rng.integers(0, len(vocab), k)]

    texts = [" ".join(words(int(rng.integers(40, 121)))) for _ in range(N_DOCS)]
    order = [int(i) for i in rng.permutation(N_DOCS)]
    n_copy = N_EXACT + N_NEAR + N_FAR
    originals, copies, rest = order[:n_copy], order[n_copy:2 * n_copy], order[2 * n_copy:]
    for k, (src, dst) in enumerate(zip(originals, copies)):
        toks = texts[src].split(" ")
        if k < N_EXACT:
            toks = [w.upper() if rng.random() < 0.2 else w for w in toks]
            texts[dst] = "  ".join(toks) + " \n"
            continue
        rate = 0.04 if k < N_EXACT + N_NEAR else 0.3
        for j in rng.choice(len(toks), max(1, int(len(toks) * rate)), replace=False):
            toks[int(j)] = words(1)[0]
        texts[dst] = " ".join(toks)
    for i in rest[:N_PII]:
        toks = texts[i].split(" ")
        if rng.random() < 0.6:
            pii = f"{words(1)[0]}.{int(rng.integers(0, 99))}@{words(1)[0]}.com"
        else:
            pii = ".".join(str(int(x)) for x in rng.integers(0, 256, 4))
        toks.insert(int(rng.integers(0, len(toks))), pii)
        texts[i] = " ".join(toks)
    quoted = rest[N_PII:N_PII + N_QUOTING]
    holdout = []
    for j in range(N_HOLDOUT):
        body = words(int(rng.integers(30, 60)))
        if j < N_QUOTING:
            src = texts[quoted[j]].split(" ")
            start = int(rng.integers(0, len(src) - 12))
            body[5:5] = src[start:start + 12]
        holdout.append((100000 + j, " ".join(body)))
    langs = np.array(["en", "de", "fr"])[rng.integers(0, 3, N_DOCS)]
    sources = np.array(["web", "forum", "news", "wiki"])[rng.integers(0, 4, N_DOCS)]
    docs = [(i + 1, texts[i], str(langs[i]), str(sources[i])) for i in range(N_DOCS)]
    return docs, holdout


def embeddings(seed):
    rng = _rng(seed, 5)
    vecs = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    src = rng.choice(N_VECS // 2, N_VEC_PAIRS, replace=False)
    for k, s in enumerate(src):       # planted near pairs, cosine ~ 0.9998
        dst = N_VECS // 2 + k
        vecs[dst] = vecs[s] + 0.02 * rng.standard_normal(DIM).astype(np.float32)
    labels = rng.integers(0, 10, N_VECS).astype(np.int32)
    return vecs, labels


def write_corpus(seed, d):
    """The corpus tables, and leading slices of the documents and
    embeddings (same schema, so the same plans) for the curation warm-up."""
    docs, holdout = corpus(seed)
    table = pa.table({
        "doc_id": pa.array([x[0] for x in docs], pa.int64()),
        "text": [x[1] for x in docs],
        "lang": [x[2] for x in docs],
        "source": [x[3] for x in docs],
        "n_chars": pa.array([len(x[1]) for x in docs], pa.int64()),
    })
    pq.write_table(table, os.path.join(d, "documents.parquet"))
    pq.write_table(table.slice(0, N_WARM_DOCS), os.path.join(d, "warmup_documents.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array([x[0] for x in holdout], pa.int64()),
        "text": [x[1] for x in holdout],
    }), os.path.join(d, "holdout.parquet"))
    vecs, labels = embeddings(seed)
    table = pa.table({
        "vec_id": pa.array(np.arange(1, N_VECS + 1), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(table, os.path.join(d, "embeddings.parquet"))
    pq.write_table(table.slice(0, N_WARM_VECS), os.path.join(d, "warmup_embeddings.parquet"))
    return docs, holdout, vecs


# ---------------------------------------------------------------- dashboard tables
def write_dashboard_tables(seed, d):
    """TPC-H-shaped tables in the layout graft.Tables expects."""
    rng = _rng(seed, 6)
    day_us = 86400 * 1_000_000
    epoch92 = 694224000 * 1_000_000            # 1992-01-01

    def cents(lo, hi, n):
        return rng.integers(lo * 100, hi * 100, n) / 100.0

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION{i:02d}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(range(1, N_CUSTOMERS + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, N_CUSTOMERS + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": cents(-999, 9999, N_CUSTOMERS),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, N_CUSTOMERS)]})
    write("supplier", {
        "s_suppkey": pa.array(range(1, N_SUPPLIERS + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, N_SUPPLIERS + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": cents(-999, 9999, N_SUPPLIERS)})
    write("part", {
        "p_partkey": pa.array(range(1, N_PARTS + 1), pa.int64()),
        "p_name": [f"part {i}" for i in range(1, N_PARTS + 1)],
        "p_brand": [f"Brand#{int(b)}" for b in rng.integers(11, 56, N_PARTS)],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                            "PROMO"])[rng.integers(0, 6, N_PARTS)],
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": cents(900, 2000, N_PARTS)})
    odate = epoch92 + rng.integers(0, 2405, N_ORDERS) * day_us
    write("orders", {
        "o_orderkey": pa.array(np.arange(1, N_ORDERS + 1) * 4, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, N_CUSTOMERS + 1, N_ORDERS), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": cents(800, 500000, N_ORDERS),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, N_ORDERS)]})
    oi = rng.integers(0, N_ORDERS, N_LINES)
    write("lineitem", {
        "l_orderkey": pa.array((oi + 1) * 4, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, N_PARTS + 1, N_LINES), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, N_SUPPLIERS + 1, N_LINES), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINES), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINES).astype(np.float64),
        "l_extendedprice": cents(900, 100000, N_LINES),
        "l_discount": rng.integers(0, 11, N_LINES) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINES) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINES)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINES)],
        "l_shipdate": pa.array(odate[oi] + rng.integers(1, 122, N_LINES) * day_us,
                               pa.timestamp("us"))})
    write("events", {
        "event_id": pa.array(range(1, N_EVENTS + 1), pa.int64()),
        "ts": pa.array(1735689600 * 1_000_000 + rng.integers(0, 30 * 86400, N_EVENTS)
                       * 1_000_000, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(1, 3000, N_EVENTS), pa.int64()),
        "event_type": np.array(["view", "click", "signup", "purchase"])[
            rng.choice(4, N_EVENTS, p=[0.6, 0.25, 0.05, 0.1])],
        "value": cents(0, 500, N_EVENTS),
        "props": ["{}"] * N_EVENTS})


# ---------------------------------------------------------------- canonical digests
def canon(v):
    """Canonical text of one result value; mirrors Digest.canon in the
    Scala client so that both engines hash the same strings."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v.is_integer() and abs(v) < 1e15:
            return str(int(v))
        return _canon_dec(Decimal(v))
    if isinstance(v, Decimal):
        return _canon_dec(v)
    return str(v)


_EXACT = Context(prec=1000)  # wide enough for any double's exact expansion


def _canon_dec(d):
    if d == 0:
        return "0"
    return format(d.normalize(_EXACT), "f")


def digest(rows):
    lines = sorted("\x1f".join(canon(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def dashboard_digests(data_dir, queries):
    """Result digest of every dashboard query, computed by DuckDB over the
    same parquet files the engine serves."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("CREATE SCHEMA global_temp")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents"]:
        con.execute(f"CREATE VIEW global_temp.{t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    con.execute("CREATE VIEW crypto_prices AS SELECT * FROM read_parquet('"
                f"{os.path.join(data_dir, 'backfill', '*.parquet')}')")
    out = {}
    for q in queries:
        out[q["name"]] = digest(con.execute(q.get("duckdb", q["spark"])).fetchall())
    con.close()
    return out


# ---------------------------------------------------------------- curation oracle
def _norm(t):
    return re.sub(r"\s+", " ", t.lower()).strip(" ")


def _shingles(t, k):
    toks = _norm(t).split(" ")
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def curation_expected(docs, holdout, vecs):
    texts = {d[0]: d[1] for d in docs}
    ids = sorted(texts)
    fps = {hashlib.md5(_norm(texts[i]).encode()).hexdigest() for i in ids}
    exact_dropped = len(ids) - len(fps)

    # near-duplicate pairs: exact Jaccard of distinct k-shingle sets, all
    # pairs sharing at least one shingle (the rest have Jaccard 0)
    sh = {i: _shingles(texts[i], SHINGLE_K) for i in ids}
    inv = {}
    for i in ids:
        for s in sh[i]:
            inv.setdefault(s, []).append(i)
    cand = set()
    for lst in inv.values():
        for a in range(len(lst)):
            for b in range(a + 1, len(lst)):
                cand.add((lst[a], lst[b]))
    pairs = [(a, b) for a, b in cand
             if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= JACCARD_THRESHOLD]
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = len({find(x) for x in parent})

    # simhash: 56-bit md5-prefix token hashes, bitwise majority
    bits = np.arange(56, dtype=np.uint64)
    weights = np.uint64(1) << bits
    sk = np.zeros(len(ids), dtype=np.uint64)
    for n, i in enumerate(ids):
        hs = np.array([int(hashlib.md5(t.encode()).hexdigest()[:14], 16)
                       for t in set(_norm(texts[i]).split(" "))], dtype=np.uint64)
        ones = ((hs[:, None] >> bits) & np.uint64(1)).sum(axis=0)
        sk[n] = weights[2 * ones > len(hs)].sum()
    simhash_pairs = 0
    for lo in range(0, len(ids), 500):      # all pairs, 500 rows at a time
        x = sk[lo:lo + 500, None] ^ sk[None, :]
        pop = np.zeros(x.shape, dtype=np.int64)
        for byte in range(7):
            pop += _POP8[((x >> np.uint64(8 * byte)) & np.uint64(255)).astype(np.uint8)]
        later = np.arange(len(ids))[None, :] > np.arange(lo, lo + x.shape[0])[:, None]
        simhash_pairs += int(((pop <= SIMHASH_MAX_HAMMING) & later).sum())

    # decontamination: corpus docs sharing >= 1 n-gram with the holdout
    held = set()
    for _, t in holdout:
        held |= _shingles(t, NGRAM_N)
    contaminated, hits = 0, 0
    for i in ids:
        g = _shingles(texts[i], NGRAM_N)
        h = len(g & held)
        if h:
            contaminated += 1
            hits += h

    # PII: email then IP redaction over the lowercased text
    n_email = n_ip = 0
    red = []
    for i in ids:
        t, a = EMAIL_RE.subn("<EMAIL>", texts[i].lower())
        t, b = IP_RE.subn("<IP>", t)
        n_email += a
        n_ip += b
        red.append(t)
    pii_digest = hashlib.sha256("\n".join(red).encode()).hexdigest()

    # cosine pairs >= threshold (6-decimal rounding, as the operator does)
    v = vecs.astype(np.float64)
    nrm = np.sqrt((v * v).sum(axis=1))
    cos = np.round((v @ v.T) / np.outer(nrm, nrm), 6)
    lsh_pairs = int((cos[np.triu_indices(len(v), 1)] >= SIM_THRESHOLD).sum())

    return {"exact_dropped": exact_dropped, "near_pairs": len(pairs),
            "clusters": clusters, "clustered_docs": len(parent),
            "simhash_pairs": simhash_pairs, "contaminated_docs": contaminated,
            "contamination_hits": hits, "pii_emails": n_email, "pii_ips": n_ip,
            "pii_digest": pii_digest, "lsh_pairs": lsh_pairs}


_POP8 = np.array([bin(b).count("1") for b in range(256)], dtype=np.int64)
