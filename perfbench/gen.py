"""Seeded input generators for the benchmark.

Three inputs, each written to a directory the JVM side reads:

* ``paper_corpus``: the reference corpus shape of FIXTURES.md section 1 --
  the 21-word vocabulary, 20 single-line files, every word exactly
  ``k * 5000`` times.  The seed permutes token order and file sizes.
* ``zipf_corpus``: many multi-line files of Zipf-distributed tokens over a
  large vocabulary.  The seed drives the generator; its own tally is the
  oracle.
* ``tables``: TPC-H-like parquet tables with the schemas and value
  distributions of the repository's test data (FIXTURES.md section 2), at a
  chosen scale factor.  The data is fixed by a data seed that does not
  depend on the benchmark seed, so the expected query row counts recorded
  in ``expected_rows.json`` stay valid.

Every corpus directory gets a ``tally.tsv`` next to its ``input/`` files:
one ``word<TAB>count<TAB>djb2 % 10`` line per distinct key as the
reference program (getline + strsep on ``[ \\t\\n\\r]``) would count it.
"""

import os

import numpy as np

PAPER_VOCAB = ("This a and each exactly expect five-thousand for input is library "
               "mapreduce occurs see should test the times to word you").split()

# FIXTURES.md section 1: the reference's djb2 % 10 layout of PAPER_VOCAB
PAPER_LAYOUT = {
    0: ["a", "and"],
    2: ["each", "for", "should"],
    3: ["input", "mapreduce", "test", "times"],
    4: ["occurs", "the"],
    5: ["This", "exactly", "word"],
    6: ["five-thousand", "library", "see", "you"],
    8: ["expect", "to"],
    9: ["is"],
}

MASK64 = (1 << 64) - 1


def djb2(word):
    """The reference's djb2 over UTF-8 bytes: unsigned 64-bit, chars signed."""
    h = 5381
    for b in word.encode("utf-8"):
        h = (h * 33 + (b - 256 if b >= 128 else b)) & MASK64
    return h


def djb2_pid(word, partitions=10):
    return djb2(word) % partitions


def _write_tally(out_dir, counts):
    with open(os.path.join(out_dir, "tally.tsv"), "w", encoding="utf-8") as f:
        for w in sorted(counts):
            f.write(f"{w}\t{counts[w]}\t{djb2_pid(w)}\n")


def _cut_points(rng, n_items, n_parts, min_part):
    """Random split of ``n_items`` into ``n_parts`` runs of >= ``min_part``."""
    weights = rng.exponential(1.0, n_parts)
    extra = n_items - n_parts * min_part
    sizes = np.floor(weights / weights.sum() * extra).astype(np.int64) + min_part
    sizes[-1] += n_items - sizes.sum()
    return np.concatenate([[0], np.cumsum(sizes)])


def paper_corpus(out_dir, seed, k, n_files=20):
    """FIXTURES.md section 1 scaled by ``k``: each word ``k * 5000`` times."""
    rng = np.random.default_rng(seed)
    per_word = k * 5000
    vocab = np.array(PAPER_VOCAB, dtype=object)
    tokens = np.repeat(vocab, per_word)
    rng.shuffle(tokens)
    cuts = _cut_points(rng, len(tokens), n_files, min_part=100)
    in_dir = os.path.join(out_dir, "input")
    os.makedirs(in_dir, exist_ok=True)
    for i in range(n_files):
        # one logical line, single spaces, no trailing newline
        with open(os.path.join(in_dir, f"sample{i + 1}.txt"), "w", encoding="utf-8") as f:
            f.write(" ".join(tokens[cuts[i]:cuts[i + 1]]))
    _write_tally(out_dir, {w: per_word for w in PAPER_VOCAB})
    return len(tokens)


def zipf_vocab(rng, size):
    """``size`` distinct lowercase 7-letter words in random order."""
    nums = rng.choice(26 ** 7, size, replace=False)
    digits = (nums[:, None] // 26 ** np.arange(6, -1, -1)) % 26
    letters = (digits + ord("a")).astype(np.uint8)
    return np.array([w.decode("ascii") for w in letters.view("S7").ravel()], dtype=object)


def zipf_ranks(rng, n_tokens, vocab_size, s):
    """Token ranks drawn from a Zipf(s) law truncated at ``vocab_size``."""
    weights = 1.0 / np.arange(1, vocab_size + 1) ** s
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n_tokens)), vocab_size - 1)


def zipf_corpus(out_dir, seed, n_tokens, vocab_size, s=1.1, n_files=64, line_tokens=12):
    """Multi-line files of Zipf(s) tokens; the tally counts what getline sees.

    Lines end in ``\\n`` except the last line of each file, so the reference
    tokenizer emits one empty token per newline (SURVEY.md section 1.3).
    """
    rng = np.random.default_rng(seed)
    vocab = zipf_vocab(rng, vocab_size)
    ids = zipf_ranks(rng, n_tokens, vocab_size, s)
    tokens = vocab[ids]
    cuts = _cut_points(rng, n_tokens, n_files, min_part=line_tokens)
    in_dir = os.path.join(out_dir, "input")
    os.makedirs(in_dir, exist_ok=True)
    newlines = 0
    for i in range(n_files):
        chunk = tokens[cuts[i]:cuts[i + 1]]
        lines = [" ".join(chunk[j:j + line_tokens]) for j in range(0, len(chunk), line_tokens)]
        newlines += len(lines) - 1
        with open(os.path.join(in_dir, f"part{i:03d}.txt"), "w", encoding="utf-8") as f:
            f.write("\n".join(lines))
    uniq, cnt = np.unique(ids, return_counts=True)
    counts = {vocab[u]: int(c) for u, c in zip(uniq, cnt)}
    if newlines:
        counts[""] = newlines
    _write_tally(out_dir, counts)
    return n_tokens + newlines


# ---------------------------------------------------------------- tables

NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DOC_VOCAB = ("a agg batch big column customer data fast filter group hash join key "
             "line merge order part query row scan slow small sort spark stream "
             "table the value vector window").split()
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000


def _day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out_dir, sf, data_seed=42):
    """Write the test data's ten tables (FIXTURES.md section 2) at scale ``sf``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(data_seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols, types):
        arrays = [pa.array(cols[c], type=t) for c, t in types]
        table = pa.Table.from_arrays(arrays, names=[c for c, _ in types])
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))

    write("region", {"r_regionkey": np.arange(5),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
          [("r_regionkey", i32), ("r_name", s)])
    write("nation", {"n_nationkey": np.arange(NATIONS),
                     "n_name": [f"NATION_{i}" for i in range(NATIONS)],
                     "n_regionkey": np.arange(NATIONS) % 5},
          [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)])
    write("customer", {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, NATIONS, n_cust),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)]},
        [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64),
         ("c_mktsegment", s)])
    write("supplier", {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, NATIONS, n_supp),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
        [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)])
    adj = np.array(PART_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.array(PART_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    write("part", {
        "p_partkey": np.arange(n_part),
        "p_name": adj + " " + noun,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES, dtype=object)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)},
        [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
         ("p_size", i32), ("p_retailprice", f64)])
    o_lo, o_hi = _day_us(1995, 1, 1) // DAY_US, _day_us(2001, 8, 1) // DAY_US
    write("orders", {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": rng.integers(o_lo, o_hi + 1, n_ord) * DAY_US,
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)]},
        [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64),
         ("o_orderdate", ts), ("o_orderpriority", s)])
    l_lo, l_hi = _day_us(1995, 1, 2) // DAY_US, _day_us(2001, 11, 4) // DAY_US
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)],
        "l_shipdate": rng.integers(l_lo, l_hi + 1, n_li) * DAY_US},
        [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
         ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
         ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)])
    doc_vocab = np.array(DOC_VOCAB, dtype=object)
    texts = [" ".join(doc_vocab[rng.integers(0, len(DOC_VOCAB), n)])
             for n in rng.integers(8, 90, n_docs)]
    # 5% near-duplicates: an earlier document plus a marker token
    for i in range(0, n_docs, 20):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    write("documents", {
        "doc_id": np.arange(n_docs),
        "text": texts,
        "lang": np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts]},
        [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)])
    n_ev, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    ev_lo = _day_us(2024, 1, 1)
    write("events", {
        "event_id": np.arange(n_ev),
        "ts": ev_lo + np.sort(rng.integers(0, 30 * DAY_US, n_ev)),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(60.0, n_ev), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s), ("value", f64),
         ("props", s)])
    n_vec = max(500, int(20_000 * sf))
    write("embeddings", {
        "vec_id": np.arange(n_vec),
        "embedding": list(rng.standard_normal((n_vec, 64)).astype(np.float32)),
        "label": rng.integers(0, 10, n_vec)},
        [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)])
