"""Seeded input generators for the perfbench workloads.

Every input a workload feeds the engine is made here from the workload
seed, so the same seed gives byte-identical files and the engine sees
only these files. The generators also write the answers the harness
checks the engine's outputs against (`expect.tsv`, `ops.tsv`); the
engine never reads those.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The word list of the sf0.1 `documents` fixture: every fixture text is a
# sequence of these words, so generated texts keep its token statistics.
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]  # the fixture's language shares

# corpus_prep sizing
N_DOCS = 500
EXACT_DUP_SHARE = 0.10   # docs that repeat another doc's text verbatim
NEAR_DUP_SHARE = 0.10    # docs that copy another doc with 1-2 word edits
MIN_WORDS, MAX_WORDS = 16, 100

# lake_cdc sizing
N_KEYS = 50_000
N_BUCKETS = 16
N_OPS = 37               # the cold op and six rounds: more than a run applies in 60 s
UPSERT_ROWS = 2_000      # 80% Zipf-hot updates, 20% new keys
MERGE_ROWS = 1_000       # 70% updates, 10% deletes, 20% inserts
DELETE_KEYS = 200
ZIPF_A = 1.2
EQ_KEYS = 4              # keys per readEquals lookup
RANGE_SPAN = 3_000       # ingest ids per readRanges window
# One op per closed-loop cycle: U upsertBatch, M merge, D deleteKeys,
# C compact followed by vacuum in the same cycle. Op 1, the process's cold
# cycle, is an upsert; the measured ops repeat ROUND, which holds every kind.
ROUND = "UMUDUC"
TAGS = [f"t{i:02d}" for i in range(40)]


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


# -- corpus_prep ---------------------------------------------------------

def gen_corpus(seed, out, n_docs=N_DOCS):
    rng = np.random.default_rng([seed, 1])
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_base = n_docs - n_exact - n_near
    vocab = np.array(VOCAB)
    base = []
    seen = set()
    while len(base) < n_base:
        n = int(rng.integers(MIN_WORDS, MAX_WORDS + 1))
        t = " ".join(vocab[rng.integers(0, len(vocab), n)])
        if t not in seen:
            seen.add(t)
            base.append(t)
    texts = list(base)
    for _ in range(n_exact):
        texts.append(base[int(rng.integers(0, n_base))])
    near = 0
    while near < n_near:
        words = base[int(rng.integers(0, n_base))].split(" ")
        for _ in range(int(rng.integers(1, 3))):
            words[int(rng.integers(0, len(words)))] = \
                VOCAB[int(rng.integers(0, len(VOCAB)))]
        t = " ".join(words)
        if t not in seen:
            seen.add(t)
            texts.append(t)
            near += 1
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    table = pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, len(texts), p=LANG_P).tolist(),
                         pa.string()),
        "source": pa.array([f"src{i}" for i in
                            rng.integers(0, 20, len(texts))], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write(table, os.path.join(out, "documents.parquet"))
    with open(os.path.join(out, "expect.tsv"), "w") as f:
        f.write(f"docs\t{len(texts)}\n")
        f.write(f"distinct_texts\t{len(set(texts))}\n")
        # a term the consumer's index lookup probes
        f.write(f"probe_term\t{VOCAB[int(rng.integers(0, len(VOCAB)))]}\n")


# -- lake_cdc ------------------------------------------------------------

class _Lake:
    """Model of the source table: one slot per key ever written."""

    def __init__(self, rng, cap, n_hot):
        self.rng = rng
        self.alive = np.zeros(cap, dtype=bool)
        self.ingest = np.zeros(cap, dtype=np.int64)
        self.amount = np.zeros(cap, dtype=np.int64)
        self.next_key = 0
        self.next_ingest = 0
        # Zipf ranks map onto the seed keys through a fixed permutation,
        # so the hot keys are spread over every bucket
        self.hot_order = rng.permutation(n_hot)
        cdf = np.cumsum(np.arange(1, n_hot + 1, dtype=np.float64) ** -ZIPF_A)
        self.zipf_cdf = cdf / cdf[-1]

    def rows(self, keys, amounts=None):
        n = len(keys)
        ingest = np.arange(self.next_ingest, self.next_ingest + n,
                           dtype=np.int64)
        self.next_ingest += n
        if amounts is None:
            amounts = self.rng.integers(0, 1_000_000, n, dtype=np.int64)
        tags = self.rng.integers(0, len(TAGS), n)
        return pa.table({
            "key": pa.array(keys.astype(np.int64)),
            "bucket": pa.array((keys % N_BUCKETS).astype(np.int32)),
            "ingest_id": pa.array(ingest),
            "amount": pa.array(amounts.astype(np.int64)),
            "tag": pa.array([TAGS[t] for t in tags], pa.string()),
        })

    def apply(self, table):
        k = table.column("key").to_numpy()
        self.alive[k] = True
        self.ingest[k] = table.column("ingest_id").to_numpy()
        self.amount[k] = table.column("amount").to_numpy()

    def hot_alive(self, n):
        """n distinct live keys, Zipf-skewed toward the hot ones."""
        draws = 16 * n
        while True:
            ranks = np.searchsorted(self.zipf_cdf, self.rng.random(draws))
            keys = self.hot_order[np.minimum(ranks, len(self.hot_order) - 1)]
            keys = keys[self.alive[keys]]
            _, first = np.unique(keys, return_index=True)
            if len(first) >= n:
                return keys[np.sort(first)[:n]].astype(np.int64)
            draws *= 4

    def new_keys(self, n):
        keys = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        return keys


def gen_lake(seed, out, n_keys=N_KEYS, n_ops=N_OPS):
    rng = np.random.default_rng([seed, 2])
    cap = n_keys + n_ops * max(UPSERT_ROWS, MERGE_ROWS)
    lake = _Lake(rng, cap, n_keys)
    seed_rows = lake.rows(lake.new_keys(n_keys))
    lake.apply(seed_rows)
    _write(seed_rows, os.path.join(out, "seed.parquet"))
    os.makedirs(os.path.join(out, "ops"), exist_ok=True)
    lines = ["\t".join([
        "op", "kind", "file", "seed_rows", "count", "min_ingest",
        "max_ingest", "eq_keys", "eq_n", "eq_sum", "rng_lo", "rng_hi",
        "rng_n", "rng_sum"])]
    for i in range(1, n_ops + 1):
        kind = "U" if i == 1 else ROUND[(i - 2) % len(ROUND)]
        name = f"op_{i:04d}.parquet"
        path = os.path.join(out, "ops", name)
        if kind == "U":
            n_upd = UPSERT_ROWS * 4 // 5
            keys = np.concatenate([lake.hot_alive(n_upd),
                                   lake.new_keys(UPSERT_ROWS - n_upd)])
            batch = lake.rows(keys)
            lake.apply(batch)
            _write(batch, path)
        elif kind == "M":
            n_upd, n_del = MERGE_ROWS * 7 // 10, MERGE_ROWS // 10
            old = lake.hot_alive(n_upd + n_del)
            new = lake.new_keys(MERGE_ROWS - n_upd - n_del)
            keys = np.concatenate([old, new])
            amounts = rng.integers(0, 1_000_000, len(keys), dtype=np.int64)
            amounts[n_upd:n_upd + n_del] = -1   # the merge's delete arm
            batch = lake.rows(keys, amounts)
            kept = batch.filter(pa.array(amounts >= 0))
            lake.apply(kept)
            lake.alive[old[n_upd:]] = False
            _write(batch, path)
        elif kind == "D":
            keys = lake.hot_alive(DELETE_KEYS)
            lake.alive[keys] = False
            _write(pa.table({"key": pa.array(keys)}), path)
        else:
            name = "-"
        live = np.flatnonzero(lake.alive)
        eq = lake.hot_alive(EQ_KEYS - 1)
        # one probe key that was never written: a lookup that finds nothing
        eq = np.append(eq, cap + i)
        eq_hit = eq[eq < cap][lake.alive[eq[eq < cap]]]
        hi = lake.next_ingest - 1
        lo = hi - RANGE_SPAN + 1
        in_rng = live[(lake.ingest[live] >= lo) & (lake.ingest[live] <= hi)]
        lines.append("\t".join(str(v) for v in [
            i, kind, name, n_keys, len(live), lake.ingest[live].min(),
            lake.ingest[live].max(), ",".join(str(k) for k in eq),
            len(eq_hit), lake.amount[eq_hit].sum(), lo, hi, len(in_rng),
            lake.amount[in_rng].sum()]))
    with open(os.path.join(out, "ops.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")



GENERATORS = {"corpus_prep": gen_corpus, "lake_cdc": gen_lake}


def perturb_expected(workload, out):
    """Makes one expected value wrong, leaving the engine's inputs alone;
    the harness must then report a failed op."""
    name = "expect.tsv" if workload == "corpus_prep" else "ops.tsv"
    path = os.path.join(out, name)
    with open(path) as f:
        rows = [line.rstrip("\n").split("\t") for line in f]
    if workload == "corpus_prep":
        row = next(r for r in rows if r[0] == "distinct_texts")
        row[1] = str(int(row[1]) + 1)
    else:
        col = rows[0].index("count")
        rows[2][col] = str(int(rows[2][col]) + 1)   # after op 2
    with open(path, "w") as f:
        f.write("".join("\t".join(r) + "\n" for r in rows))


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](seed, out)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
