"""Deterministic inputs for the graft benchmark.

Everything here is a pure function of its seed: the same seed writes
byte-identical files.

* ``tables``: the ten parquet tables graft's queries read, with the
  schemas, physical types and value distributions of the testdata in
  TESTDATA.md (TPC-H-ish star schema, an ``events`` stream,
  ``documents`` and ``embeddings``), at any scale factor.
* ``fixture``: the reference engine's three headered CSVs (10k users;
  5k posts by 4k authors; 10k engagements).
* ``churn_plan``: the op sequence of the ``index_churn`` workload, one
  op a line, with every id slice, update and batch chosen here.
"""
import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, start, end):
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    base = np.datetime64(start.isoformat(), "us")
    return base + (d * 86_400_000_000).astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out_dir, sf, seed):
    """Write the ten parquet tables at scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = max(1, n_cust // 10)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        f"{out_dir}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}),
        f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1),
                             dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
        f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2),
                            dt.date(2001, 11, 4))}),
        f"{out_dir}/lineitem.parquet")
    month_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt))
    _write(pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}),
        f"{out_dir}/events.parquet")
    texts = []
    lens = rng.integers(10, 101, n_docs)
    for n in lens:
        texts.append(" ".join(rng.choice(VOCAB, n)))
    # about 5% near-duplicates: another doc's text plus a trailing "dup"
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out_dir}/documents.parquet")
    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)}),
        f"{out_dir}/embeddings.parquet")


# ------------------------------------------------------------ fixture

CITIES = ["New York", "Austin", "Chicago", "Denver", "Seattle", "Boston",
          "Miami", "Portland", "Atlanta", "Phoenix", "Dallas", "Detroit"]
SYLLABLES = ["ka", "no", "ri", "ch", "ey", "wa", "bi", "sh", "op", "le",
             "mar", "tin", "jo", "an", "el", "ra"]
PHRASES = ["Check out this sunset", "Great day", "Hello world",
           "New post", "Loving this", "Weekend plans", "Coffee time"]
COMMENTS = ["Howdy!", "Nice", "Love it", "So true", "Great shot", "Wow"]

N_USERS, N_POSTS, N_AUTHORS, N_ENG = 10_000, 5_000, 4_000, 10_000


def _handles(rng, n):
    names, seen = [], set()
    while len(names) < n:
        k = int(rng.integers(2, 4))
        h = "".join(rng.choice(SYLLABLES, k)) + str(int(rng.integers(0, 1000)))
        if h not in seen:
            seen.add(h)
            names.append(h)
    return names


def fixture(out_dir, seed):
    """Write users.csv, posts.csv and engagements.csv; return the
    usernames, user id i + 1 at index i."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    names = _handles(rng, N_USERS)
    with open(f"{out_dir}/users.csv", "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["id", "username", "location"])
        for i, n in enumerate(names):
            w.writerow([i + 1, n, CITIES[int(rng.integers(0, len(CITIES)))]])
    authors = rng.choice(N_USERS, N_AUTHORS, replace=False)
    # every author writes at least one post
    post_author = np.concatenate(
        [authors, rng.choice(authors, N_POSTS - N_AUTHORS)])
    rng.shuffle(post_author)
    with open(f"{out_dir}/posts.csv", "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["id", "content", "username", "views"])
        for i in range(N_POSTS):
            w.writerow([i + 1, PHRASES[int(rng.integers(0, len(PHRASES)))],
                        names[int(post_author[i])], int(rng.integers(0, 500))])
    with open(f"{out_dir}/engagements.csv", "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["id", "postId", "username", "type", "comment",
                    "timestamp"])
        for i in range(N_ENG):
            like = rng.random() < 0.5
            w.writerow([i + 1, int(rng.integers(1, N_POSTS + 1)),
                        names[int(rng.integers(0, N_USERS))],
                        "like" if like else "comment",
                        "None" if like else COMMENTS[int(rng.integers(0, 6))],
                        int(rng.integers(1, 1_000_000))])
    return names


# ------------------------------------------------------------ churn plan

FAMILIES = ["dedup", "sim", "lex", "graph", "sketch"]
BASE_IDS = 1000       # ids [0, BASE_IDS) are published in set-up
FOLD_IDS = 800        # ids [BASE_IDS, BASE_IDS + FOLD_IDS) arrive by folds
FOLD_BATCH = 16
DEDUP_FOLD = 4        # the dedup fold tombstones this many base ids
PURGE_BATCH = 8
APPEND_BATCH = 20
SECTIONS = ("untraced", "traced", "after")   # the windows of a run
CYCLES = 12           # per section; a window runs whole cycles


def churn_plan(path, seed, names, cycles=CYCLES):
    """Write the index_churn plan: one section per window, each a list of
    cycles (blank-line separated) that starts over at cycle 0, so every
    window runs the same op mix.

    A cycle is ten ops, six reads and four writes: three engine reads
    (comments, by location, load of the RI-filtered tables), one engine
    write (update, append or rename), probes of three families, a fold
    into a fourth family followed by its compaction, and a purge cascade
    over all five. Cycle c probes families c, c+1, c+2 and folds family
    c+4 (mod 5), so every cycle touches every family; cycle 0 folds the
    sketch, the cheapest fold, which keeps a window near one cycle.

    Line formats (space separated; the first token is read/write):
      read comments <userId> | read by_location <city> | read load
      write update <postId> <delta> | write append <engagement row> ...
      write rename <userId> <newName>
      read probe <family> <id> ...   | write fold <family> <lo> <hi>
      write fold dedup <id> ...      | write compact <family>
      write purge <id> ...
    The op types follow a fixed schedule; the seed picks every id.
    """
    rng = np.random.default_rng(seed + 1)
    base_free = list(rng.permutation(BASE_IDS))
    next_fold = BASE_IDS
    next_eng = N_ENG + 1
    out = []

    def reads(c):
        user = int(rng.integers(1, N_USERS + 1))
        city = CITIES[int(rng.integers(0, len(CITIES)))]
        kinds = [f"read comments {user}", f"read by_location {city}",
                 "read load"]
        return [kinds[(c + k) % 3] for k in range(3)]

    def probe(fam):
        ids = sorted(int(x) for x in rng.choice(BASE_IDS, 24, replace=False))
        return f"read probe {fam} " + " ".join(map(str, ids))

    for section in SECTIONS:
        out.append(f"== {section}")
        for c in range(cycles):
            r1, r2, r3 = reads(c)
            kind = c % 4
            if kind == 1:
                rows = []
                for _ in range(APPEND_BATCH):
                    # a fifth of the rows reference a missing post: the
                    # engine's FK check must drop them
                    post = (N_POSTS + 1 + int(rng.integers(0, 100))
                            if rng.random() < 0.2
                            else int(rng.integers(1, N_POSTS + 1)))
                    rows.append(f"{next_eng},{post},"
                                f"{names[int(rng.integers(0, N_USERS))]},"
                                f"like,None,{int(rng.integers(1, 1_000_000))}")
                    next_eng += 1
                write = "write append " + " ".join(rows)
            elif kind == 3:
                uid = int(rng.integers(1, N_USERS + 1))
                write = f"write rename {uid} {names[uid - 1]}x{section[0]}{c}"
            elif c % 8 == 6:
                # a missing post id: the update must report false and
                # write nothing (the reference's test 8)
                write = f"write update {N_POSTS + 100} 7"
            else:
                write = (f"write update {int(rng.integers(1, N_POSTS + 1))} "
                         f"{int(rng.integers(-60, 40))}")
            fam = [FAMILIES[(c + k) % len(FAMILIES)] for k in (0, 1, 2, 4)]
            if fam[3] == "dedup":
                fold = "write fold dedup " + " ".join(
                    str(base_free.pop()) for _ in range(DEDUP_FOLD))
            else:
                fold = f"write fold {fam[3]} {next_fold} {next_fold + FOLD_BATCH}"
                next_fold += FOLD_BATCH
            purge = "write purge " + " ".join(
                str(base_free.pop()) for _ in range(PURGE_BATCH))
            out += [r1, write, probe(fam[0]), fold, r2, probe(fam[1]),
                    f"write compact {fam[3]}", r3, probe(fam[2]), purge, ""]
    assert next_fold <= BASE_IDS + FOLD_IDS
    with open(path, "w") as f:
        f.write("\n".join(out))


def plan_sections(path):
    """{section: [cycle, ...]} of a plan file, a cycle being its lines."""
    sections, cur, cycle = {}, None, None
    for line in open(path).read().split("\n"):
        if line.startswith("== "):
            cur, cycle = sections.setdefault(line[3:], []), None
        elif not line:
            cycle = None
        else:
            if cycle is None:
                cycle = []
                cur.append(cycle)
            cycle.append(line)
    return sections
