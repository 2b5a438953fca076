"""Seeded input generators for the benchmark.

Every generator takes a seed and writes files whose bytes depend only on
that seed and the size arguments: gzip streams carry no timestamp, and
parquet files are written with fixed writer options.
"""
import gzip
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASES = np.frombuffer(b"ACGT", dtype=np.uint8)
COMP = bytes.maketrans(b"ACGT", b"TGCA")


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def revcomp(s):
    return s.translate(COMP)[::-1]


def _write_gz(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as raw:
        with gzip.GzipFile(filename="", mode="wb", fileobj=raw, mtime=0) as gz:
            gz.write(text.encode("ascii"))


def fastq_pairs(seed, out_dir, samples, pairs_per_sample, genomes=6,
                genome_len=3000, min_len=100, max_len=150, sub_rate=0.01):
    """Gzip'd paired FASTQ, one R1/R2 file per sample, keys `S<k>:p<i>/1|2`.

    Each pair is one fragment of a random "genome" with ~1% substitutions;
    R1 is the fragment and R2 its reverse complement, so both mates carry
    the same length and the same six-frame ORF set. Fragment lengths are
    drawn across [min_len, max_len]. Mates sit in separate directories
    (`r1/`, `r2/`) so each side is read without a glob.
    Returns {"pairs": n, "bytes": total file bytes}.
    """
    rng = _rng(seed, 1)
    gen = [BASES[rng.integers(0, 4, genome_len)].tobytes() for _ in range(genomes)]
    total = 0
    for k in range(samples):
        r1, r2 = [], []
        for i in range(pairs_per_sample):
            g = gen[rng.integers(0, genomes)]
            n = int(rng.integers(min_len, max_len + 1))
            p = int(rng.integers(0, genome_len - n))
            frag = bytearray(g[p:p + n])
            for j in np.nonzero(rng.random(n) < sub_rate)[0]:
                frag[j] = BASES[(int(np.searchsorted(BASES, frag[j])) + 1
                                 + int(rng.integers(0, 3))) % 4]
            s1 = bytes(frag)
            q1 = (rng.integers(53, 74, n).astype(np.uint8)).tobytes()
            key = f"S{k}:p{i}"
            r1.append(f"@{key}/1\n{s1.decode()}\n+\n{q1.decode()}\n")
            r2.append(f"@{key}/2\n{revcomp(s1).decode()}\n+\n{q1[::-1].decode()}\n")
        for mate, recs in (("r1", r1), ("r2", r2)):
            path = os.path.join(out_dir, mate, f"S{k}.fastq.gz")
            _write_gz(path, "".join(recs))
            total += os.path.getsize(path)
    return {"pairs": samples * pairs_per_sample, "bytes": total}


def domain_files(seed, out_dir, n_reads=2000, n_hits=4000):
    """Small FASTQ, SAM and BLAST-TSV files for the SQL tools.

    Writes `fastq/reads.fastq`, `sam/aln.sam` and `blast/hits.tsv`.
    Returns row counts per file.
    """
    rng = _rng(seed, 2)
    fq, sam = [], ["@HD\tVN:1.6\tSO:unsorted"]
    for i in range(n_reads):
        n = int(rng.integers(60, 151))
        s = BASES[rng.integers(0, 4, n)].tobytes().decode()
        q = rng.integers(35, 74, n).astype(np.uint8).tobytes().decode()
        fq.append(f"@R{i}/{1 + i % 2}\n{s}\n+\n{q}\n")
        flag = int(rng.choice([0, 4, 16, 77, 141, 1024 + 16, 99, 147]))
        ref = f"chr{int(rng.integers(1, 6))}" if flag != 4 else "*"
        start = int(rng.integers(1, 100000)) if flag != 4 else 0
        mapq = int(rng.integers(0, 61))
        cigar = f"{n}M" if flag != 4 else "*"
        sam.append(f"R{i}\t{flag}\t{ref}\t{start}\t{mapq}\t{cigar}\t*\t0\t0\t{s}\t{q}")
    bl = []
    for i in range(n_hits):
        length = int(rng.integers(30, 400))
        qs = int(rng.integers(1, 50))
        ss = int(rng.integers(1, 5000))
        bl.append("\t".join(str(v) for v in (
            f"contig_{int(rng.integers(0, n_hits // 4))}",
            f"subj{int(rng.integers(0, 200))}",
            f"{rng.integers(5000, 10001) / 100:.2f}", length,
            int(rng.integers(0, 20)), int(rng.integers(0, 5)), qs, qs + length - 1,
            ss, ss + length - 1, f"{10.0 ** -int(rng.integers(1, 50)):.0e}",
            f"{rng.integers(200, 8000) / 10:.1f}")))
    for sub, name, lines in (("fastq", "reads.fastq", fq), ("sam", "aln.sam", sam),
                             ("blast", "hits.tsv", bl)):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
        with open(os.path.join(out_dir, sub, name), "w") as f:
            f.write("".join(lines) if sub == "fastq" else "\n".join(lines) + "\n")
    return {"fastq_reads": n_reads, "sam_rows": n_reads, "blast_rows": n_hits}


VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _table(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy",
                   write_statistics=True, use_dictionary=True)


def tables(seed, out_dir, sf=0.1, only=None):
    """The ten star-schema tables (`region` .. `embeddings`) as parquet.

    Schemas and value domains follow the repository's TPC-H-ish test
    tables; sizes scale with `sf` (lineitem ~6M * sf rows). The seed draws
    every value and the physical row order of the fact tables. `only`
    restricts the files written (values do not depend on it).
    Returns row counts per table.
    """
    rng = _rng(seed, 3)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), max(int(10000 * sf), 25), int(200000 * sf)
    n_ord, n_ev, n_doc, n_emb = (int(1500000 * sf), int(1000000 * sf), int(50000 * sf),
                                   max(int(20000 * sf), 500))
    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    counts = {}

    def put(name, cols):
        if only is not None and name not in only:
            return
        _table(os.path.join(out_dir, f"{name}.parquet"), cols)
        counts[name] = len(next(iter(cols.values())))

    def money(lo, hi, n):
        return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)

    put("region", {"r_regionkey": pa.array(np.arange(5), i32),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    put("nation", {"n_nationkey": pa.array(np.arange(25), i32),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                   "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {"c_custkey": pa.array(np.arange(n_cust), i64),
                     "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                     "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
                     "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)], s)})
    put("supplier", {"s_suppkey": pa.array(np.arange(n_supp), i64),
                     "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                     "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)})
    colors = np.array("blue old small new large hot cold red".split())
    things = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    put("part", {"p_partkey": pa.array(np.arange(n_part), i64),
                 "p_name": pa.array(np.char.add(np.char.add(colors[rng.integers(0, 8, n_part)], " "),
                                                things[rng.integers(0, 8, n_part)]), s),
                 "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)), s),
                 "p_type": pa.array(types[rng.integers(0, 6, n_part)], s),
                 "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                 "p_retailprice": pa.array(retail, f64)})
    day0 = np.datetime64("1995-01-01", "us")
    odays = rng.integers(0, 2404, n_ord)
    odate = day0 + odays.astype("timedelta64[D]")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    operm = rng.permutation(n_ord)
    put("orders", {"o_orderkey": pa.array(np.arange(n_ord)[operm], i64),
                   "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)[operm], i64),
                   "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)][operm], s),
                   "o_totalprice": pa.array(money(1000, 500000, n_ord)[operm], f64),
                   "o_orderdate": pa.array(odate[operm], ts),
                   "o_orderpriority": pa.array(prios[rng.integers(0, 5, n_ord)][operm], s)})
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per)
    n_li = len(okey)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, per) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    lperm = rng.permutation(n_li)
    put("lineitem", {"l_orderkey": pa.array(okey[lperm], i64),
                     "l_partkey": pa.array(pkey[lperm], i64),
                     "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)[lperm], i64),
                     "l_linenumber": pa.array(lnum[lperm], i32),
                     "l_quantity": pa.array(qty[lperm], f64),
                     "l_extendedprice": pa.array(np.round(qty * retail[pkey], 2)[lperm], f64),
                     "l_discount": pa.array((rng.integers(0, 11, n_li) / 100.0)[lperm], f64),
                     "l_tax": pa.array((rng.integers(0, 9, n_li) / 100.0)[lperm], f64),
                     "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)][lperm], s),
                     "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)][lperm], s),
                     "l_shipdate": pa.array(ship[lperm], ts)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1000000, n_ev))
    put("events", {"event_id": pa.array(np.arange(n_ev), i64),
                   "ts": pa.array(t0 + offs.astype("timedelta64[us]"), ts),
                   "user_id": pa.array(rng.integers(0, max(n_ev // 66, 10), n_ev), i64),
                   "event_type": pa.array(np.array(["click", "view", "purchase", "signup", "error"])
                                          [rng.integers(0, 5, n_ev)], s),
                   "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
                   "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    langs = np.array(["en", "de", "es", "fr", "zh"])[
        np.searchsorted([0.41, 0.55, 0.70, 0.85, 1.0], rng.random(n_doc), side="right").clip(0, 4)]
    put("documents", {"doc_id": pa.array(np.arange(n_doc), i64),
                      "text": pa.array(texts, s),
                      "lang": pa.array(langs, s),
                      "source": pa.array([f"src{v}" for v in rng.integers(0, 20, n_doc)], s),
                      "n_chars": pa.array([len(t) for t in texts], i64)})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {"vec_id": pa.array(np.arange(n_emb), i64),
                       "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                       "label": pa.array(labels, i32)})
    return counts
