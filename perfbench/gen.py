"""Seeded input generators for the benchmark workloads.

Every table mirrors the fixture schemas in FIXTURES.md (events, the
TPC-H-ish star schema, documents, embeddings). The same seed always gives
the same rows.
"""
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01 00:00:00 UTC
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "agg key query scan batch").split()
STOPWORDS = ["the", "a"]
LANGS = ["en", "de", "es", "fr", "zh"]


def write(table, path):
    pq.write_table(table, path, row_group_size=1 << 17)


def _pick(rng, values, n, p=None):
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(values).take(pa.array(idx))


def day_us(day):
    """Microseconds of `YYYY-MM-DD` 00:00 UTC."""
    return int(np.datetime64(day, "us").astype(np.int64))


def events(rng, start_us, n_days, per_day, first_id=0):
    """`per_day` events per day over `n_days` days from `start_us`, with
    unique ascending `event_id` in `ts` order and a JSON `props`."""
    n = n_days * per_day
    ts = start_us + np.sort(rng.integers(0, n_days * DAY_US, n))
    k = pa.array(rng.integers(0, 100, n)).cast(pa.string())
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pc.binary_join_element_wise('{"k": ', k, "}", ""),
    })


def count_in(ts_us, start_us, end_us):
    return int(np.searchsorted(ts_us, end_us) - np.searchsorted(ts_us, start_us))


def _text(rng, n_tokens):
    words = [WORDS[i] for i in rng.integers(0, len(WORDS), n_tokens)]
    for pos in rng.choice(n_tokens, size=2, replace=False):
        words[pos] = STOPWORDS[rng.integers(0, 2)]
    return " ".join(words)


def documents(rng, n_docs, n_vecs, first_id=0, copy_share=0.06, bad_share=0.08):
    """Word-soup documents (20-80 tokens, two stopwords at least) with
    planted exact copies of earlier documents and planted gate failures
    (too short, too long, or no stopword), plus 64-dim embeddings for the
    first `n_vecs` ids. Distinct random texts share almost no 3-grams, so
    the copies are the only near-duplicates."""
    texts = []
    for i in range(n_docs):
        u = rng.random()
        if i > 0 and u < copy_share:
            texts.append(texts[rng.integers(0, i)])
        elif u < copy_share + bad_share:
            kind = rng.integers(0, 3)
            if kind == 0:
                texts.append(_text(rng, int(rng.integers(6, 16))))
            elif kind == 1:
                texts.append(_text(rng, int(rng.integers(85, 101))))
            else:
                texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), 40)))
        else:
            texts.append(_text(rng, int(rng.integers(20, 81))))
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vec = (rng.standard_normal((n_vecs, 64)) * 0.12).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(ids[:n_vecs]),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs, dtype=np.int32)),
    })
    return docs, emb


def with_embedding(docs, emb):
    """documents left-joined with their embedding (null where none)."""
    vecs = dict(zip(emb["vec_id"].to_pylist(), emb["embedding"].to_pylist()))
    col = pa.array([vecs.get(i) for i in docs["doc_id"].to_pylist()],
                   pa.list_(pa.float32()))
    return docs.append_column("embedding", col)


def gate_keeps(text, min_tokens=20, max_tokens=80):
    """The ingest wave's default quality gate (gopherFilter), restated."""
    toks = text.split(" ")
    n = len(toks)
    avg = (len(text) - (n - 1)) / n
    symbols = sum(1 for t in toks if t == "#" or "..." in t) / n
    alpha = sum(1 for t in toks if any(c.isascii() and c.isalpha() for c in t)) / n
    stops = sum(1 for t in toks if t in ("the", "a", "and", "of"))
    return (min_tokens <= n <= max_tokens and 3.0 <= avg <= 10.0
            and symbols <= 0.1 and alpha >= 0.8 and stops >= 2)


def dispositions(texts, base_ids, waves):
    """Expected admission report of each wave: the gate, then a copy of a
    smaller-id gated doc in the same wave, then a copy of admitted corpus
    text, else admitted."""
    corpus = {texts[i] for i in base_ids}
    out = []
    for wave in waves:
        gated = sorted(i for i in wave if gate_keeps(texts[i]))
        first = {}
        for i in gated:
            first.setdefault(texts[i], i)
        exp = {i: "rejected_quality" for i in wave}
        admitted = []
        for i in gated:
            if first[texts[i]] != i:
                exp[i] = "rejected_batch_dup"
            elif texts[i] in corpus:
                exp[i] = "rejected_corpus_dup"
            else:
                exp[i] = "admitted"
                admitted.append(i)
        corpus.update(texts[i] for i in admitted)
        out.append(exp)
    return out


def star_schema(rng):
    """The TPC-H-ish tables at sf0.1 sizes."""
    n_cust, n_supp, n_part, n_orders, n_lines = 15_000, 1_000, 20_000, 150_000, 600_000
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))}),
    }
    colors = ["blue", "red", "green", "hot", "large", "small", "pale", "dark"]
    nouns = ["ring", "bolt", "nut", "gear", "pipe", "valve"]
    names = [f"{colors[a]} {nouns[b]}" for a, b in
             zip(rng.integers(0, len(colors), n_part), rng.integers(0, len(nouns), n_part))]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2))})
    day0 = day_us("1995-01-01")
    odate = day0 + rng.integers(0, 2404, n_orders) * DAY_US
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 450000.0, n_orders), 2)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_orders)})
    per_order = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)[:n_lines]
    starts = np.concatenate([[0], np.cumsum(per_order)[:-1]])
    lineno = (np.arange(len(okey)) - np.repeat(starts, per_order)[:n_lines] + 1).astype(np.int32)
    n = len(okey)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array(lineno),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 122, n) * DAY_US,
                               pa.timestamp("us"))})
    return tables


def sf_dataset(seed, out_dir):
    """All ten fixture tables at sf0.1 sizes, one parquet file each."""
    rng = np.random.default_rng(seed)
    for name, table in star_schema(rng).items():
        write(table, f"{out_dir}/{name}.parquet")
    write(events(rng, EPOCH_2024_US, 30, 3_334), f"{out_dir}/events.parquet")
    docs, emb = documents(rng, 5_000, 2_000)
    write(docs, f"{out_dir}/documents.parquet")
    write(emb, f"{out_dir}/embeddings.parquet")
