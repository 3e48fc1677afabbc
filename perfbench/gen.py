"""Seeded input generator for the benchmark.

Writes the ten tables `graft.core.Tables` reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as parquet files into one output directory, at the
fixture scale SF. The star schema and the events/embeddings tables
follow the column types and value domains of the repository's synthetic
fixtures (FIXTURES.md section 3); `documents` is either the
fixture-shaped prose corpus or the tweet-shaped corpus described in
workloads.json.

The same arguments always give the same bytes: every value comes from
one numpy PCG64 stream seeded by the seed, and the parquet writer runs
with fixed settings.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.001  # 150 customers, 1,500 orders, 6,000 lineitems, 500 prose documents

# Shape of the tweet corpus, with the reason for each number, lives in
# workloads.json so the record and the generator cannot disagree.
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")) as _fh:
    CORPUS = {k: v["value"] for k, v in json.load(_fh)["corpus"].items()}

# The 31 words of the fixture corpus: the inventory workload's prose.
FIXTURE_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()

LANGS = ["de", "en", "es", "fr", "zh"]
MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "fr": ["le", "la", "les", "et", "des"],
    "es": ["el", "los", "las", "de", "y"],
    "de": ["der", "die", "das", "und", "ist"],
    "zh": [],
}
STOPWORDS = ["i", "you", "it", "in", "on", "for", "with", "my", "this",
             "that", "was", "so", "but", "not", "just", "me"]
PUNCT = ["!", "!!", "!!!", "?", "...", ",", ".", ":)", ":(", ";)", "&",
         "\"", "-", "(", ")", "*", ":", "<3"]
URLS = ["http://t.co/{}", "https://t.co/{}", "http://bit.ly/{}",
        "www.{}.com", "https://example.org/{}?ref=tw"]
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "so", "vi", "po", "de",
             "an", "el", "or", "is", "un", "qu", "br", "st", "ch", "ph"]

EPOCH_DAY = np.datetime64("1970-01-01", "D")


def _day_us(rng, lo, hi, n):
    """Midnight timestamps uniformly between two ISO dates, as micros."""
    lo_d = (np.datetime64(lo, "D") - EPOCH_DAY).astype(np.int64)
    hi_d = (np.datetime64(hi, "D") - EPOCH_DAY).astype(np.int64)
    days = rng.integers(lo_d, hi_d + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _pick(rng, options, n):
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)],
                    pa.string())


def _money(rng, lo, hi, n):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def star_schema(rng, sf):
    """region .. events and embeddings at scale factor `sf` (sf0.001:
    150 customers, 1,500 orders, 6,000 lineitems)."""
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 50)
    n_line = max(int(6_000_000 * sf), 200)
    n_ev = max(int(1_000_000 * sf), 100)
    n_emb = max(int(500_000 * sf), 100)
    n_users = max(int(15_000 * sf), 15)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "cold", "large", "small", "red", "green", "hot", "shiny"]
    noun = ["widget", "bolt", "anvil", "gear", "spring", "valve", "nut", "pipe"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + 0.1 * np.arange(n_part), 2), f64)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _day_us(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _day_us(rng, "1995-01-02", "2001-11-04", n_line)})
    start = (np.datetime64("2024-01-01", "us") - np.datetime64("1970-01-01", "us")).astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + start
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01, f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    emb = (rng.standard_normal((n_emb, 64)) / 8.0).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return t


def _documents(doc_id, texts, langs, sources):
    return pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def prose_documents(rng, sf):
    """Fixture-shaped documents: 8-90 words of the 31-word vocabulary,
    with a few exact copies and one-word edits so the dedup and
    near-duplicate queries find pairs."""
    n = max(int(500_000 * sf), 100)
    words = np.asarray(FIXTURE_WORDS, dtype=object)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.12:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, len(words)))]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 91)))]))
    return _documents(np.arange(n), texts,
                      [LANGS[k] for k in rng.integers(0, 5, n)],
                      [f"src{k}" for k in rng.integers(0, 20, n)])


def _vocab(rng):
    """A synthetic vocabulary with Zipf weights."""
    size = CORPUS["vocabulary"]["words"]
    seen, out = set(), []
    while len(out) < size:
        w = "".join(SYLLABLES[k] for k in rng.integers(0, len(SYLLABLES), int(rng.integers(1, 4))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    weights = 1.0 / np.arange(1, size + 1) ** CORPUS["vocabulary"]["zipf_exponent"]
    return np.asarray(out, dtype=object), weights / weights.sum()


def tweet_documents(rng, n):
    """Tweet-shaped documents: short, Zipf-distributed words, URL /
    @mention / #hashtag / punctuation / case noise at the CORPUS shares,
    language marker words, and retweet-style exact duplicates."""
    c = CORPUS
    t = c["tokens"]
    vocab, weights = _vocab(rng)
    n_tok = np.clip(np.round(rng.lognormal(np.log(t["lognormal_median"]), t["lognormal_sigma"], n)),
                    t["min"], t["max"]).astype(int)
    langs = [LANGS[k] for k in rng.integers(0, 5, n)]
    u = rng.random((n, 6))
    r = rng.integers(0, 1 << 30, (n, 20))  # per-doc draws, taken modulo
    words = vocab[rng.choice(len(vocab), int(n_tok.sum()), p=weights)]
    ends = np.cumsum(n_tok)
    texts = []
    for i in range(n):
        ri = r[i]
        if i > 0 and u[i, 5] < c["exact_dup_share"]:
            texts.append(texts[ri[0] % i])
            continue
        toks = list(words[ends[i] - n_tok[i]:ends[i]])
        marks = MARKERS[langs[i]] or STOPWORDS
        for k in range(ri[1] % 3):
            toks.insert(ri[2 + k] % (len(toks) + 1), marks[ri[4 + k] % len(marks)])
        if u[i, 3] < c["punct_share"]:
            for k in range(1 + ri[6] % 3):
                j = ri[7 + k] % len(toks)
                toks[j] = toks[j] + PUNCT[ri[10 + k] % len(PUNCT)]
        if u[i, 4] < c["upper_share"]:
            j = ri[13] % len(toks)
            toks[j] = toks[j].upper() if ri[14] % 2 else toks[j].capitalize()
        if u[i, 1] < c["mention_share"]:
            toks.insert(0 if ri[15] % 5 < 3 else len(toks),
                        f"@{vocab[ri[16] % 200]}_{ri[17] % 100}")
        if u[i, 2] < c["hashtag_share"]:
            toks.append("#" + vocab[ri[18] % 300].capitalize())
        if u[i, 0] < c["url_share"]:
            slug = "".join(SYLLABLES[(ri[19] >> (5 * k)) % len(SYLLABLES)] for k in range(4))
            toks.append(URLS[(ri[19] >> 20) % len(URLS)].format(slug))
        texts.append(" ".join(toks))
    return _documents(np.arange(n), texts, langs,
                      [f"src{k}" for k in rng.integers(0, 20, n)])


def generate(seed, out, tweets=False, docs=None):
    """Write all ten tables into `out`; return {table: row count}.
    `docs` overrides the tweet corpus size (tests use a small one)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    tables = star_schema(rng, SF)
    tables["documents"] = (tweet_documents(rng, docs or CORPUS["docs"]) if tweets
                           else prose_documents(rng, SF))
    os.makedirs(out, exist_ok=True)
    for name, table in tables.items():
        groups = CORPUS["row_groups"] if (name == "documents" and tweets) else 1
        pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                       row_group_size=-(-table.num_rows // groups),
                       compression="snappy", write_statistics=True)
    return {name: table.num_rows for name, table in tables.items()}
