"""Correctness gates, run after the timed region.

`virapipe(...)` replays the pipeline's k-mer band and the mock tools'
arithmetic in DuckDB and Python; `results(...)` compares collected query
results with their DuckDB oracle (row count, column names, value multiset
with columns sorted by name and floats rounded to 6 decimals) and checks
that every later pass produced the same result digest as the first.
Each returns a list of failure messages, one per wrong output.
"""
import glob
import gzip
import math
import os

import duckdb
import pyarrow as pa

from gen import revcomp

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

CODONS = {}
for i, a in enumerate("TCAG"):
    for j, b in enumerate("TCAG"):
        for k, c in enumerate("TCAG"):
            CODONS[a + b + c] = "FFLLSSSSYY**CC*WLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG"[16 * i + 4 * j + k]
STARTS = {"ATG", "TTG", "GTG", "CTG"}


def frame_orfs(s, min_len=2):
    """Proteins of one frame's ORF scan: an ORF opens at a start codon
    after the previous ORF's stop and closes at the next stop codon."""
    out = []
    start, last_end = -1, -1
    for ci in range(len(s) // 3):
        codon = s[3 * ci:3 * ci + 3]
        if start < 0:
            if codon in STARTS and ci > last_end:
                start = ci
        elif CODONS.get(codon, "X") == "*":
            if ci - start + 1 >= min_len:
                out.append("".join(CODONS.get(s[3 * x:3 * x + 3], "X")
                                   for x in range(start, ci + 1)))
            last_end, start = ci, -1
    return out


def six_frames(seq):
    rc = revcomp(seq.encode()).decode()
    return [strand[f:] for strand in (seq, rc) for f in range(3)]


def orfs(seq):
    return [p for frame in six_frames(seq) for p in frame_orfs(frame)]


def canon(s):
    r = revcomp(s.encode()).decode()
    return min(s, r)


def _parquet(con, path):
    return con.execute(f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning=true)")


def virapipe(in_dir, out_dir, k=16, minc=0, maxc=20, blast_threshold=70.0):
    con = duckdb.connect()
    fails = []
    reads = []
    for mate in ("r1", "r2"):
        for f in sorted(glob.glob(os.path.join(in_dir, mate, "*.fastq.gz"))):
            lines = gzip.open(f, "rt").read().split("\n")
            for i in range(0, len(lines) - 3, 4):
                reads.append((lines[i][1:], lines[i + 1], lines[i + 3]))
    con.register("reads", pa.table({"key": [r[0] for r in reads], "sequence": [r[1] for r in reads],
                                    "quality": [r[2] for r in reads]}))
    got = sorted(_parquet(con, f"{out_dir}/aligned").fetchall())
    if got != sorted(reads):
        fails.append(f"aligned: {len(got)} rows differ from the {len(reads)} input reads")
    con.execute(f"""CREATE TABLE keep AS
        WITH r AS (SELECT key, sequence FROM reads WHERE length(sequence) >= {k}),
        pos AS (SELECT key, sequence, unnest(range(1, length(sequence) - {k} + 2)) AS i FROM r),
        km AS (SELECT substr(sequence, i, {k}) AS kmer, key FROM pos),
        band AS (SELECT kmer, count(*) AS cnt, min(key) AS keeper FROM km GROUP BY kmer)
        SELECT DISTINCT keeper AS key FROM band WHERE cnt > {minc} AND cnt < {maxc}""")
    exp_norm = con.execute("""SELECT r.key, r.sequence, split_part(r.key, ':', 1)
        FROM reads r JOIN keep USING (key)""").fetchall()
    got_norm = _parquet(con, f"{out_dir}/grouped").fetchall()
    cols = [d[0] for d in con.description]
    ki, si, pi = cols.index("key"), cols.index("sequence"), cols.index("sample")
    if sorted((r[ki], r[si], r[pi]) for r in got_norm) != sorted(exp_norm):
        fails.append(f"grouped normalized reads: {len(got_norm)} rows, expected {len(exp_norm)}")
    by_pair = {}
    for key, seq, _ in exp_norm:
        by_pair.setdefault(key.split("/")[0], canon(seq))
    exp_contigs = sorted(by_pair.values())
    got_contigs = sorted(canon(r[1]) for r in con.execute(
        f"SELECT id, sequence FROM read_parquet('{out_dir}/contigs/*.parquet')").fetchall())
    if got_contigs != exp_contigs:
        fails.append(f"contigs: {len(got_contigs)} contigs, expected {len(exp_contigs)}")
    # mock blastn: pident = 50 + len % 50, alignment covers the whole contig
    exp_filtered = sorted(s for s in exp_contigs
                          if 50 + len(s) % 50 > blast_threshold and 100.0 > blast_threshold)
    got_filtered = sorted(canon(r[1]) for r in con.execute(
        f"SELECT id, sequence FROM read_parquet('{out_dir}/filtered_contigs/*.parquet')").fetchall())
    if got_filtered != exp_filtered:
        fails.append(f"filtered contigs: {len(got_filtered)}, expected {len(exp_filtered)}")
    exp_orfs = sorted(p for s in exp_filtered for p in orfs(s))
    got_orfs = sorted(r[0] for r in con.execute(
        f"SELECT sequence FROM read_parquet('{out_dir}/orfs/*.parquet')").fetchall())
    if got_orfs != exp_orfs:
        fails.append(f"orfs: {len(got_orfs)} proteins, expected {len(exp_orfs)}")
    # mock hmmsearch: one hit line per (contig, strand, frame) with an ORF
    exp_hits = sum(1 for s in exp_filtered for frame in six_frames(s) if frame_orfs(frame))
    got_hits = con.execute(
        f"SELECT count(*) FROM read_parquet('{out_dir}/hmm_hits/*.parquet')").fetchone()[0]
    if got_hits != exp_hits:
        fails.append(f"hmm hits: {got_hits}, expected {exp_hits}")
    counts = {"reads": len(reads), "normalized": len(exp_norm), "contigs": len(exp_contigs),
              "filtered_contigs": len(exp_filtered), "orfs": len(exp_orfs), "hmm_hits": exp_hits}
    return fails, counts


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), str(_norm(x))) for k, x in v.items()))
    return v


def compare(con, got_path, sql):
    """check.py's method: row count, column names, value multiset."""
    got = con.execute(f"SELECT * FROM read_parquet('{got_path}/*.parquet')").fetchall()
    got_cols = [d[0] for d in con.description]
    exp = con.execute(sql).fetchall()
    exp_cols = [d[0] for d in con.description]
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {sorted(got_cols)} != {sorted(exp_cols)}"
    gi = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
    ei = sorted(range(len(exp_cols)), key=lambda i: exp_cols[i])
    g = sorted(tuple(str(_norm(r[i])) for i in gi) for r in got)
    e = sorted(tuple(str(_norm(r[i])) for i in ei) for r in exp)
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    if g != e:
        bad = next(i for i in range(len(g)) if g[i] != e[i])
        return f"values differ at sorted row {bad}: got {g[bad]} expected {e[bad]}"
    return None


def domain_tables(con, dom_dir):
    """The SQL tools' sources as DuckDB tables with the loaders' columns."""
    lines = open(os.path.join(dom_dir, "fastq", "reads.fastq")).read().split("\n")
    fastq = pa.table({"key": [lines[i][1:] for i in range(0, len(lines) - 3, 4)],
                      "sequence": lines[1::4][:len(lines) // 4],
                      "quality": lines[3::4][:len(lines) // 4]})
    rows = [ln.split("\t") for ln in open(os.path.join(dom_dir, "sam", "aln.sam")).read().split("\n")
            if ln and not ln.startswith("@")]
    sam = pa.table({"readName": [r[0] for r in rows],
                    "flag": pa.array([int(r[1]) for r in rows], pa.int32()),
                    "referenceName": [r[2] for r in rows],
                    "start": pa.array([int(r[3]) for r in rows], pa.int32()),
                    "mapq": pa.array([int(r[4]) for r in rows], pa.int32()),
                    "cigar": [r[5] for r in rows], "bases": [r[9] for r in rows],
                    "quality": [r[10] for r in rows]})
    con.register("fastq", fastq)
    con.register("sam", sam)
    con.execute(f"""CREATE TABLE blast AS SELECT * FROM read_csv('{dom_dir}/blast/hits.tsv',
        delim='\t', header=false, columns={{'qseqid': 'VARCHAR', 'sseqid': 'VARCHAR',
        'pident': 'DOUBLE', 'length': 'INTEGER', 'mismatch': 'INTEGER', 'gapopen': 'INTEGER',
        'qstart': 'BIGINT', 'qend': 'BIGINT', 'sstart': 'BIGINT', 'send': 'BIGINT',
        'evalue': 'DOUBLE', 'bitscore': 'DOUBLE'}})""")


def results(in_dir, work, ops, passes, oracle_sql):
    """Returns (failures, counts): failures are (op name, message). Every
    other pass, the warm-up included, must match the first timed pass's
    digest."""
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{in_dir}/tables/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/tables/{t}.parquet')")
    if os.path.isdir(os.path.join(in_dir, "domain")):
        domain_tables(con, os.path.join(in_dir, "domain"))
    fails, oracle_checked, no_oracle = [], 0, 0
    first = next(p for p in passes if p["id"] == "p0")
    for i, (op, res) in enumerate(zip(ops, first["ops"])):
        if not res["ok"]:
            continue
        if op[0] == "tools":    # (source, path, sql) triples over `records`
            sqls = [q[2].replace(" records", " " + q[0]) for q in zip(*[iter(op[2:])] * 3)]
        else:
            sqls = [oracle_sql.get(op[1])]
        for j, sql in enumerate(sqls):
            if not sql:
                no_oracle += 1
                continue
            try:
                msg = compare(con, os.path.join(work, "results", f"{i}-{j}"), sql)
            except Exception as e:  # an oracle that cannot run is a failed check
                msg = f"oracle error: {e}"
            oracle_checked += 1
            if msg:
                fails.append((res["name"], msg))
    ref = {o["name"]: o["hash"] for o in first["ops"] if o["ok"]}
    for p in passes:
        if p["id"] == "p0":
            continue
        for o in p["ops"]:
            if o["ok"] and o["name"] in ref and o["hash"] != ref[o["name"]]:
                fails.append((o["name"], f"pass {p['id']} digest differs from the first pass"))
    return fails, {"oracle_checked": oracle_checked, "no_oracle": no_oracle}
