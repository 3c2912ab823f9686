"""Seeded inputs for the three workloads, and their expected results.

Each generator writes into one directory and finishes with a DONE
marker, so a (workload, seed, size) input is made once and reused:

  fjc_elt        fjc.tsv (written by the harness's FjcGen, which draws
                 the dim codes from FjcPipeline.dims) + expected.tsv,
                 the DuckDB replay of the quality zone and dims
  corpus_curate  docs.parquet, truth.parquet, batch.parquet and
                 expected.tsv, all from the planted structure
  event_stream   events/ev_<k>.parquet (time-ordered, mtimes ascending)
                 + a far-future sentinel file, and expected.tsv
"""
import os
import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- FJC

# Quality-zone projection of FjcPipeline.quality: (column, kind, sentinels).
_S8 = ["-8"]
_TRANS = ["-8", "J", "A", "B", "C", "H", "S", "W", "P", "F", "M", "G", "s"]
QUALITY = [
    ("CIRCUIT", "long", _S8), ("DISTRICT", "str", _S8), ("OFFICE", "str", _S8),
    ("DOCKET", "long", _S8), ("ORIGIN", "long", _S8), ("FILEDATE", "date", None),
    ("FDATEUSE", "date", None), ("JURIS", "long", _S8), ("NOS", "long", _S8),
    ("RESIDENC", "long", _S8), ("JURY", "str", _S8), ("CLASSACT", "long", _S8),
    ("DEMANDED", "long", _S8), ("COUNTY", "long", _S8), ("MDLDOCK", "str", _S8),
    ("PLT", "str", _S8), ("DEF", "str", _S8), ("TRANSDAT", "date", None),
    ("TRANSOFF", "long", _TRANS), ("TRANSDOC", "long", _TRANS),
    ("TRANSORG", "long", _TRANS), ("TERMDATE", "date", None),
    ("TDATEUSE", "date", None), ("TRCLACT", "long", _S8),
    ("PROCPROG", "long", _S8), ("DISP", "long", _S8), ("NOJ", "long", _S8),
    ("AMTREC", "long", ["-8", "0"]), ("JUDGMENT", "long", ["-8", "0"]),
    ("TRMARB", "str", _S8), ("PROSE", "long", _S8), ("IFP", "str", _S8),
    ("STATUSCD", "str", _S8), ("TAPEYEAR", "long", _S8),
]
DIM_COLS = {
    "DimCircuit": "CIRCUIT", "DimDistrict": "DISTRICT", "DimOrigin": "ORIGIN",
    "DimJuris": "JURIS", "DimNos": "NOS", "DimResidenc": "RESIDENC",
    "DimJury": "JURY", "DimTrclact": "TRCLACT", "DimProcprog": "PROCPROG",
    "DimDisp": "DISP", "DimNoj": "NOJ", "DimJudgment": "JUDGMENT",
    "DimTrmarb": "TRMARB", "DimProse": "PROSE", "DimStatuscd": "STATUSCD",
}


def _lit_list(xs):
    return ", ".join("'" + x.replace("'", "''") + "'" for x in xs)


def _quality_expr(c, kind, sent):
    q = f'"{c}"'
    if kind == "date":
        # strict m/d/yyyy: 1-19 digit month and day, 4-digit year, a real date
        m = f"TRY_CAST(regexp_extract({q}, '^([0-9]+)/([0-9]+)/([0-9]{{4}})$', 1) AS BIGINT)"
        d = f"TRY_CAST(regexp_extract({q}, '^([0-9]+)/([0-9]+)/([0-9]{{4}})$', 2) AS BIGINT)"
        y = f"TRY_CAST(regexp_extract({q}, '^([0-9]+)/([0-9]+)/([0-9]{{4}})$', 3) AS BIGINT)"
        ok = (f"regexp_full_match({q}, '[0-9]{{1,19}}/[0-9]{{1,19}}/[0-9]{{4}}') "
              f"AND {m} BETWEEN 1 AND 12 AND {y} >= 1 AND {d} >= 1 AND {d} <= "
              f"day(last_day(make_date(CAST(greatest({y}, 1) AS INT), "
              f"CAST(least(greatest({m}, 1), 12) AS INT), 1)))")
        return (f"CASE WHEN {ok} THEN make_date(CAST({y} AS INT), CAST({m} AS INT), "
                f"CAST({d} AS INT)) END")
    base = f"CASE WHEN {q} IN ({_lit_list(sent)}) THEN NULL ELSE {q} END"
    if kind == "long":
        return f"TRY_CAST({base} AS BIGINT)"
    return base


def fjc_expected(tsv, out):
    """DuckDB replay of raw TSV -> quality -> trusted -> dims: row counts
    and the per-column quality digest the harness computes in Spark."""
    clean = out + ".clean.tsv"
    with open(tsv, "rb") as src, open(clean, "wb") as dst:  # tr '\0' ' '
        for chunk in iter(lambda: src.read(1 << 20), b""):
            dst.write(chunk.replace(b"\0", b" "))
    con = duckdb.connect()
    try:
        header = open(clean, encoding="latin-1").readline().rstrip("\n").split("\t")
        cols = "{" + ", ".join(f"'{c}': 'VARCHAR'" for c in header) + "}"
        con.execute(f"""CREATE TABLE raw AS SELECT * FROM read_csv('{clean}',
            delim='\t', header=true, quote='', escape='', auto_detect=false,
            columns={cols})""")
        sel = ", ".join(f'{_quality_expr(c, k, s)} AS "{c}"' for c, k, s in QUALITY)
        con.execute(f"CREATE TABLE quality AS SELECT {sel} FROM raw")
        lines = [("trusted.rows", con.execute("SELECT count(*) FROM quality").fetchone()[0])]
        for name, c in DIM_COLS.items():
            n = con.execute(f'SELECT count(DISTINCT "{c}") FROM quality').fetchone()[0]
            lines.append((f"dim.{name}", n))
        aggs = []
        for c, kind, _ in QUALITY:
            v = {"long": f'sum("{c}")', "str": f'sum(length("{c}"))',
                 "date": f'sum("{c}" - DATE \'1970-01-01\')'}[kind]
            aggs += [f'count("{c}")', v]
        row = con.execute(f"SELECT {', '.join(aggs)} FROM quality").fetchone()
        for k, (c, _, _) in enumerate(QUALITY):
            lines.append((f"quality.{c}.n", row[2 * k]))
            s = row[2 * k + 1]
            lines.append((f"quality.{c}.s", "null" if s is None else int(s)))
    finally:
        con.close()
        os.remove(clean)
    with open(os.path.join(out, "expected.tsv"), "w") as fh:
        fh.writelines(f"{k}\t{v}\n" for k, v in lines)


# ------------------------------------------------------------- corpus

def _vocab(rng, n):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choices(letters, k=rng.randint(4, 9))))
    return sorted(words)


def _doc(rng, vocab, nwords):
    words = rng.choices(vocab, k=nwords)
    return [words[i:i + 15] for i in range(0, nwords, 15)]


def _edit(rng, vocab, lines, k=2):
    """A near duplicate: k single-word substitutions (Jaccard ~0.95)."""
    lines = [list(l) for l in lines]
    for _ in range(k):
        line = lines[rng.randrange(len(lines))]
        line[rng.randrange(len(line))] = rng.choice(vocab)
    return lines


def _chain(rng, vocab, n, step=4):
    """A path of `n` near duplicates, each `step` word substitutions
    from the one before (neighbours: Jaccard ~0.93, always LSH
    candidates). Members three to five steps apart score 0.7-0.85, so
    some of their candidate pairs land in the band hybrid verification
    re-checks exactly; the chain is one component whatever those checks
    decide."""
    docs = [_doc(rng, vocab, rng.randint(150, 180))]
    for _ in range(n - 1):
        docs.append(_edit(rng, vocab, docs[-1], k=step))
    return docs


def _text(lines):
    return "\n".join(" ".join(l) + "." for l in lines)


def _digest(ids):
    return f"{len(ids)}/{sum(ids)}/{sum(i * i for i in ids)}"


# Near-dup chains (see _chain): planted in the corpus and in the
# admission batch, plus admission-batch edits of resident chain ends.
CHAIN_LEN = 6
CORPUS_CHAINS = 5
BATCH_CHAINS = 2
CHAIN_EDITS = 4


def corpus(seed, size, out):
    """Resident corpus of `size` docs: singletons, planted near-dup
    clusters (edited copies beside exact replicas), near-dup chains and
    docs that fail curation; then a fixed admission batch."""
    rng = random.Random(seed * 7919 + 1)
    vocab = _vocab(rng, 20000)
    docs = []  # (lines, cluster); cluster -1 = fails curation
    n_fail = size // 20
    n_clustered_target = size * 2 // 5
    chains = [_chain(rng, vocab, CHAIN_LEN) for _ in range(CORPUS_CHAINS)]
    for c, chain in enumerate(chains):
        docs += [(m, c) for m in chain]
    next_cluster = len(chains)
    clustered = len(docs)
    while clustered < n_clustered_target:
        base = _doc(rng, vocab, rng.randint(90, 180))
        members = [base]
        for _ in range(rng.randint(1, 4)):
            if rng.random() < 0.6:
                members.append(_edit(rng, vocab, base))
            else:
                members.append(rng.choice(members))  # exact replica
        docs += [(m, next_cluster) for m in members]
        clustered += len(members)
        next_cluster += 1
    while len(docs) < size - n_fail:
        docs.append((_doc(rng, vocab, rng.randint(90, 180)), next_cluster))
        next_cluster += 1
    for k in range(n_fail):
        if k % 2 == 0:
            docs.append(([rng.choices(vocab, k=5)], -1))        # too short
        else:
            line = rng.choices(vocab, k=8)
            docs.append(([line] * 12, -1))                     # repetitive
    ids = rng.sample(range(1, size * 4), len(docs))
    survivors = {}
    for did, (_, c) in zip(ids, docs):
        if c >= 0:
            survivors[c] = min(did, survivors.get(c, did))
    texts = [_text(l) for l, _ in docs]
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   os.path.join(out, "docs.parquet"))
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "cluster": pa.array([c for _, c in docs], pa.int64())}),
                   os.path.join(out, "truth.parquet"))
    lines = [("docs", len(docs)), ("text_bytes", sum(len(t) for t in texts)),
             ("clusters", len(survivors)),
             ("survivors", _digest(sorted(survivors.values())))]
    # the admission batch: fresh docs, fresh near-dup groups (keep the
    # min id), and edits / exact copies of resident docs (all dropped).
    # The share of each kind is fixed (40/30/20/10% of the rows); the
    # seed varies only the texts and the order of the kinds. Two of the
    # groups are chains and some edits are of resident chain ends, so
    # every seed sends near-threshold pairs to both verify pipelines.
    resident = [l for l, c in docs if c >= 0]
    per_batch = max(20, size // 20)
    n_group_rows = per_batch * 3 // 10
    n_groups = (n_group_rows - BATCH_CHAINS * CHAIN_LEN) // 3
    n_edits = per_batch // 5
    n_copies = per_batch // 10
    kinds = (["chain"] * BATCH_CHAINS + ["group"] * n_groups +
             ["chain_edit"] * CHAIN_EDITS + ["edit"] * (n_edits - CHAIN_EDITS) +
             ["copy"] * n_copies + ["fresh"] * (per_batch - BATCH_CHAINS * CHAIN_LEN -
                                                3 * n_groups - n_edits - n_copies))
    rng.shuffle(kinds)
    next_id = size * 4
    rows, admitted = [], []
    for kind in kinds:
        if kind == "fresh":
            rows.append((next_id, _doc(rng, vocab, rng.randint(90, 180))))
            admitted.append(next_id)
            next_id += 1
        elif kind in ("group", "chain"):
            if kind == "chain":
                group = _chain(rng, vocab, CHAIN_LEN)
            else:
                base = _doc(rng, vocab, rng.randint(90, 180))
                group = [base, _edit(rng, vocab, base), _edit(rng, vocab, base)]
            gids = list(range(next_id, next_id + len(group)))
            rng.shuffle(gids)
            rows += list(zip(gids, group))
            admitted.append(min(gids))
            next_id += len(group)
        elif kind == "chain_edit":
            chain = rng.choice(chains)
            rows.append((next_id, _edit(rng, vocab, chain[rng.choice((0, -1))])))
            next_id += 1
        elif kind == "edit":
            rows.append((next_id, _edit(rng, vocab, rng.choice(resident))))
            next_id += 1
        else:
            rows.append((next_id, rng.choice(resident)))
            next_id += 1
    pq.write_table(pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                             "text": pa.array([_text(r[1]) for r in rows], pa.string())}),
                   os.path.join(out, "batch.parquet"))
    lines += [("batch_rows", len(rows)), ("admit", _digest(sorted(admitted)))]
    with open(os.path.join(out, "expected.tsv"), "w") as fh:
        fh.writelines(f"{k}\t{v}\n" for k, v in lines)


# ------------------------------------------------------------- events

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


def events(seed, files, per_file, out):
    """`files` x `per_file` events over two days from Zipf-skewed users;
    5% arrive up to five minutes late (inside every watermark used), the
    rest in time order. One parquet file per micro-batch."""
    rng = np.random.default_rng(seed * 104729 + 3)
    n = files * per_file
    users = 3000
    w = 1.0 / np.arange(1, users + 1) ** 1.1
    uid = rng.choice(users, size=n, p=w / w.sum()).astype(np.int64)
    t0 = 1_700_000_000_000_000  # epoch micros
    ts = np.sort(t0 + rng.integers(0, 2 * 86400 * 10**6, size=n))
    types = np.array(["view", "click", "purchase", "other"])
    etype = types[rng.choice(4, size=n, p=[0.6, 0.25, 0.1, 0.05])]
    value = rng.integers(0, 100, size=n).astype(np.float64)
    late = rng.random(n) < 0.05
    arrival = ts + np.where(late, rng.integers(0, 300 * 10**6, size=n), 0)
    order = np.argsort(arrival, kind="stable")
    ev_dir = os.path.join(out, "events")
    os.makedirs(ev_dir, exist_ok=True)
    base = 1_600_000_000
    for k in range(files):
        idx = order[k * per_file:(k + 1) * per_file]
        tbl = pa.table([pa.array(idx.astype(np.int64)), pa.array(ts[idx], pa.timestamp("us", tz="UTC")),
                        pa.array(uid[idx]), pa.array(etype[idx]), pa.array(value[idx]),
                        pa.array(["{}"] * len(idx))], schema=EVENT_SCHEMA)
        path = os.path.join(ev_dir, f"ev_{k:04d}.parquet")
        pq.write_table(tbl, path)
        os.utime(path, (base + 10 * k, base + 10 * k))
    far = int(ts.max()) + 86400 * 10**6
    sentinel = pa.table([pa.array([-1, -2], pa.int64()),
                         pa.array([far, far], pa.timestamp("us", tz="UTC")),
                         pa.array([-1, -1], pa.int64()), pa.array(["sentinel"] * 2),
                         pa.array([0.0, 0.0]), pa.array(["{}"] * 2)], schema=EVENT_SCHEMA)
    path = os.path.join(ev_dir, f"ev_{files:04d}_sentinel.parquet")
    pq.write_table(sentinel, path)
    os.utime(path, (base + 10 * files, base + 10 * files))
    with open(os.path.join(out, "expected.tsv"), "w") as fh:
        fh.write(f"events\t{n}\nfiles\t{files}\nrows_per_file\t{per_file}\n")
