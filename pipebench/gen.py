"""Seeded input generators, one per workload.

Each writes parquet inputs plus `facts.properties` (the generator's own
counts, which the output checks compare against) into a work directory.
The same seed gives byte-identical inputs. The pipeline only ever sees the
files; the sizes and rates below are the input properties it reacts to.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CURATION = dict(docs=500, vocab=2000, min_tokens=60, max_tokens=260, near_dup_rate=0.20,
                null_rate=0.01, eval_rate=0.001, files=4)
TABULAR = dict(rows=10000, dup_rate=0.03, null_key_rate=0.02, neg_amount_rate=0.02,
               null_amount_rate=0.05, keys=5000, files=4)
BATCHES = dict(batch_rows=5000, batch_files=2, batches=16)

# English function words mixed into every doc, so lang_id labels the corpus
# "en" whatever the seed's random vocabulary happens to contain
FUNCTION_WORDS = ["the", "and", "of", "to", "in", "is", "that", "for", "with"]
FUNCTION_WORD_RATE = 0.2

CITIES = ["berlin", "lagos", "lima", "osaka", "perth", "quito", "riga", "seoul", "tunis",
          "vienna", "accra", "dhaka", "hanoi", "kyiv", "oslo", "porto"]
REGIONS = ["north", "south", "east", "west"]
CHANNELS = ["web", "store", "phone", "partner"]

TAB_SCHEMA = pa.schema([
    pa.field("id", pa.int64(), nullable=False),
    ("cust_key", pa.string()), ("name", pa.string()), ("city", pa.string()),
    ("region", pa.string()), ("amount", pa.float64()), ("discount", pa.float64()),
    ("qty_str", pa.string()), ("score", pa.int32()), ("ts", pa.timestamp("us", tz="UTC")),
    ("info", pa.struct([("tier", pa.int32()), ("channel", pa.string())])),
    ("note", pa.string()),
])
DOC_SCHEMA = pa.schema([pa.field("doc_id", pa.int64(), nullable=False), ("text", pa.string())])


def words(rng, n):
    """`n` distinct lowercase words of 3-9 letters, none a function word."""
    out, seen = [], set(FUNCTION_WORDS)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(out) < n:
        w = "".join(letters[rng.integers(0, 26, rng.integers(3, 10))])
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def write_parts(table, path, files, first_part=0):
    """Writes `table` as `files` row-contiguous parquet files part-NNNNN."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{first_part + i:05d}.parquet"))


def write_facts(workdir, facts):
    with open(os.path.join(workdir, "facts.properties"), "w") as fh:
        for k, v in sorted(facts.items()):
            fh.write(f"{k}={int(v)}\n")


# ------------------------------------------------------------------ curation

def gen_curation(seed, workdir, p=CURATION):
    """Docs of 60-260 tokens over a fixed vocabulary, with sentence stops.
    `near_dup_rate` of the docs copy an earlier original with one token
    changed (a planted cluster), `null_rate` of them are unclustered docs
    with null text, and an `eval_rate` slice of other unclustered docs is
    copied to the eval corpus `decontaminate` reads."""
    rng = np.random.default_rng(seed)
    vocab = words(rng, p["vocab"])
    n = p["docs"]
    # exact planted counts, random positions: the input properties the
    # pipeline reacts to do not drift with the seed
    dup_at = set(rng.choice(np.arange(1, n), round(n * p["near_dup_rate"]), replace=False).tolist())
    toks, cluster, originals = [], np.full(n, -1), []
    for i in range(n):
        if i in dup_at:
            base = originals[rng.integers(0, len(originals))]
            t = list(toks[base])
            k = rng.integers(0, len(t))
            stop = t[k].endswith(".")
            w = vocab[rng.integers(0, len(vocab))]
            while w == t[k].rstrip("."):
                w = vocab[rng.integers(0, len(vocab))]
            t[k] = w + "." if stop else w
            toks.append(t)
            cluster[i] = cluster[base] = base
        else:
            n_tok = rng.integers(p["min_tokens"], p["max_tokens"] + 1)
            fw = rng.random(n_tok) < FUNCTION_WORD_RATE
            picks = rng.integers(0, len(vocab), n_tok)
            fw_picks = rng.integers(0, len(FUNCTION_WORDS), n_tok)
            t, gap = [], rng.integers(8, 17)
            for j in range(n_tok):
                w = FUNCTION_WORDS[fw_picks[j]] if fw[j] else vocab[picks[j]]
                gap -= 1
                if gap == 0:
                    t.append(w + ".")
                    gap = rng.integers(8, 17)
                else:
                    t.append(w)
            toks.append(t)
            originals.append(i)
    loners = np.flatnonzero(cluster < 0)
    picked = rng.choice(loners, round(n * p["null_rate"]) + max(1, round(n * p["eval_rate"])),
                        replace=False).tolist()
    n_null = round(n * p["null_rate"])
    nulls, eval_ids = set(picked[:n_null]), sorted(picked[n_null:])
    texts = [None if i in nulls else " ".join(toks[i]) for i in range(n)]
    docs = pa.table({"doc_id": np.arange(n, dtype=np.int64), "text": texts}, schema=DOC_SCHEMA)
    write_parts(docs, os.path.join(workdir, "src"), p["files"])
    write_parts(docs.take(eval_ids), os.path.join(workdir, "eval"), 1)
    clustered = np.flatnonzero(cluster >= 0)
    write_parts(pa.table({"doc_id": clustered.astype(np.int64),
                          "cluster": cluster[clustered].astype(np.int64)}),
                os.path.join(workdir, "truth_clusters"), 1)
    write_facts(workdir, {"rows": n, "invalid": len(nulls), "near_dups": len(dup_at),
                          "clusters": len(set(cluster[clustered].tolist())),
                          "eval_docs": len(eval_ids), "vocab": len(vocab)})


# ------------------------------------------------------------------- tabular

def tabular_table(rng, id_start, n, dup_rate, p=TABULAR):
    """Rows shaped like the reference's tabular input: padded mixed-case
    strings, nullable doubles, a struct, string-typed ints, null keys and
    negative amounts (the two rule violations), and duplicate ids whose
    strings differ only in padding and case. `ts` is unique per id, so every
    ordered derive is deterministic. Returns (table, rule-violating row
    count, ids that are valid and pass the score filter)."""
    names = np.array(words(rng, 400), dtype=object)
    ids = np.arange(id_start, id_start + n, dtype=np.int64)
    key = np.array([f"C{k:05d}" for k in rng.integers(0, p["keys"], n)], dtype=object)
    key[rng.random(n) < p["null_key_rate"]] = None
    u = rng.random(n)
    amount = np.floor(rng.random(n) * 100000) / 100.0
    neg = u < p["null_amount_rate"] + p["neg_amount_rate"]
    amount[neg] = -rng.integers(1, 101, int(neg.sum())).astype(float)
    amount_null = u < p["null_amount_rate"]
    discount = rng.integers(0, 80, n) / 100.0
    discount_null = rng.random(n) < 0.1
    cols = dict(
        id=ids, cust_key=key,
        name=names[rng.integers(0, 400, n)] + " " + names[rng.integers(0, 400, n)],
        city=np.array(CITIES, dtype=object)[rng.integers(0, len(CITIES), n)],
        region=np.array(REGIONS, dtype=object)[rng.integers(0, len(REGIONS), n)],
        qty=rng.integers(1, 51, n), score=rng.integers(0, 101, n).astype(np.int32),
        ts=1_700_000_000 + id_start + ((ids - id_start) * 1_000_003) % n,
        tier=rng.integers(1, 4, n).astype(np.int32),
        channel=np.array(CHANNELS, dtype=object)[rng.integers(0, len(CHANNELS), n)],
        note=names[rng.integers(0, 400, n)] + names[rng.integers(0, 400, n)])
    bad = (key == None) | (~amount_null & (amount < 0))  # noqa: E711
    kept_ids = int((~bad & (cols["score"] <= 95)).sum())
    # duplicate copies share every value drawn above; padding and case are
    # drawn per row below, so copies differ in raw text only
    rows = np.concatenate([np.arange(n), np.flatnonzero(rng.random(n) < dup_rate)])
    rows = rows[rng.permutation(len(rows))]
    m = len(rows)

    def shape(values, pad=True):
        case = rng.integers(0, 3, m)
        left, right = rng.integers(0, 3, m), rng.integers(0, 3, m)
        out = []
        for v, c, lp, rp in zip(values, case, left, right):
            v = v.upper() if c == 1 else v.title() if c == 2 else v
            out.append(" " * lp + v + " " * rp if pad else v)
        return out

    take = lambda a: a[rows]  # noqa: E731
    table = pa.table({
        "id": take(ids), "cust_key": take(key), "name": shape(take(cols["name"])),
        "city": shape(take(cols["city"])), "region": shape(take(cols["region"]), pad=False),
        "amount": pa.array(take(amount), mask=take(amount_null)),
        "discount": pa.array(take(discount), mask=take(discount_null)),
        "qty_str": shape(take(cols["qty"]).astype(str).astype(object)),
        "score": take(cols["score"]),
        "ts": pa.array(take(cols["ts"]) * 1_000_000, pa.timestamp("us", tz="UTC")),
        "info": pa.StructArray.from_arrays(
            [pa.array(take(cols["tier"])), pa.array(shape(take(cols["channel"])))],
            names=["tier", "channel"]),
        "note": take(cols["note"]),
    }, schema=TAB_SCHEMA)
    return table, int(bad[rows].sum()), kept_ids


def gen_tabular(seed, workdir, p=TABULAR):
    rng = np.random.default_rng(seed)
    table, invalid, kept = tabular_table(rng, 0, p["rows"], p["dup_rate"])
    write_parts(table, os.path.join(workdir, "src"), p["files"])
    write_facts(workdir, {"rows": table.num_rows, "distinct_ids": p["rows"],
                          "invalid": invalid, "expected_transformed": kept, "keys": p["keys"]})


def gen_batches(seed, workdir, p=BATCHES):
    """`batches` batches of `batch_rows` rows in `batch_files` files each,
    with disjoint ids and no duplicates. Batch b is written as the staging
    files part-NNNNN with b*batch_files <= NNNNN < (b+1)*batch_files; the
    runner moves one batch into the source directory before each run."""
    rng = np.random.default_rng(seed)
    facts = dict(p)
    for b in range(p["batches"]):
        table, invalid, _ = tabular_table(rng, b * p["batch_rows"], p["batch_rows"], 0.0)
        write_parts(table, os.path.join(workdir, "staging"), p["batch_files"],
                    first_part=b * p["batch_files"])
        facts[f"invalid_b{b:03d}"] = invalid
    write_facts(workdir, facts)


GENERATORS = {"curation_docs": gen_curation, "tabular_etl": gen_tabular,
              "incremental_batches": gen_batches}
