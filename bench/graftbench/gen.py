"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (seed, size): it draws from one
numpy PCG64 stream, writes with fixed compression settings and zeroed
gzip timestamps, and so produces identical bytes for identical
arguments. Outputs are cached under ``<data_root>/<kind>-s<seed>-<size>-<hash>``
and written through a temporary directory, so an interrupted run never
leaves a half-written cache entry behind.

Ground truth is computed here, from the generator's own knowledge of
where each read came from and which documents were planted as
near-duplicates, never by running the engine under test.
"""
import concurrent.futures
import functools
import gzip
import hashlib
import os
import shutil
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MIINT_SIZES = {
    # genomes x contigs x contig_len bp references; samples x reads
    # single-end 150 bp reads; batches x batch_reads for the aligner
    # and rype ops.
    "default": dict(genomes=8, contigs=2, contig_len=10000, samples=4,
                    reads=24000, read_len=150, batches=8, batch_reads=800),
    "small": dict(genomes=3, contigs=2, contig_len=3000, samples=2,
                  reads=300, read_len=150, batches=2, batch_reads=40),
}

CORPUS_SIZES = {
    "default": dict(docs=2500, vocab=40000, queries=64),
    "small": dict(docs=400, vocab=3000, queries=8),
}

# Rows per table at scale factor 1, as in TPC-H; region and nation are
# fixed.
TPCH_BASE_ROWS = dict(customer=150000, supplier=10000, part=200000,
                      orders=1500000, lineitem=6000000)
TPCH_SIZES = {"default": 0.02, "small": 0.002}

KINDS = ("miint", "corpus", "tpch")


def _params(kind, size):
    return {"miint": MIINT_SIZES, "corpus": CORPUS_SIZES, "tpch": TPCH_SIZES}[kind][size]


def dataset_dir(data_root, kind, seed, size):
    # the size's parameters and this file's code are part of the key, so
    # a resized preset or a changed generator never reuses stale inputs
    with open(__file__, "rb") as f:
        code = f.read()
    tag = hashlib.sha256(repr(_params(kind, size)).encode() + code).hexdigest()[:12]
    return os.path.join(data_root, f"{kind}-s{seed}-{size}-{tag}")


def ensure(data_root, kind, seed, size="default"):
    """Return the cache directory of (kind, seed, size), generating it on a miss."""
    if kind not in KINDS:
        raise ValueError(f"unknown dataset kind: {kind}")
    out = dataset_dir(data_root, kind, seed, size)
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        {"miint": gen_miint, "corpus": gen_corpus, "tpch": gen_tpch}[kind](tmp, seed, size)
        open(os.path.join(tmp, ".done"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _rng(seed, kind):
    # distinct streams per kind so one workload's inputs never shift
    # when another generator changes
    return np.random.Generator(np.random.PCG64([seed, KINDS.index(kind)]))


def _write_tsv(path, header, rows):
    with open(path, "w") as f:
        f.write("\t".join(header) + "\n")
        for r in rows:
            f.write("\t".join(str(x) for x in r) + "\n")


# ---------------------------------------------------------------- MIINT

_COMP = bytes.maketrans(b"ACGT", b"TGCA")
_PHRED33 = bytes((i + 33) % 256 for i in range(256))


def revcomp(s):
    return s.translate(_COMP)[::-1]


_ACGT = np.frombuffer(b"ACGT", np.uint8)


def _random_dna(rng, n):
    return _ACGT[rng.integers(0, 4, n)].tobytes()


def _substitute(rng, fwd, positions):
    b = bytearray(fwd)
    for p in positions:
        b[p] = b"ACGT"[(b"ACGT".index(b[p]) + 1 + int(rng.integers(3))) % 4]
    return bytes(b)


@functools.lru_cache(maxsize=None)
def cigar_ops(cigar):
    ops, n = [], 0
    for c in cigar:
        if c.isdigit():
            n = n * 10 + int(c)
        else:
            ops.append((n, c))
            n = 0
    return tuple(ops)


def ref_len(cigar):
    return sum(n for n, op in cigar_ops(cigar) if op in "MD=XN")


def md_tag(cigar, fwd, ref, ref_start):
    """MD string for the forward-oriented read `fwd` aligned at `ref_start`."""
    out, run, q, r = [], 0, 0, ref_start
    for n, op in cigar_ops(cigar):
        if op == "M":
            diff = np.flatnonzero(np.frombuffer(fwd, np.uint8, n, q) != np.frombuffer(ref, np.uint8, n, r))
            last = 0
            for d in diff:
                out.append(f"{run + int(d) - last}{chr(ref[r + d])}")
                run, last = 0, int(d) + 1
            run += n - last
            q += n
            r += n
        elif op == "D":
            out.append(f"{run}^{ref[r:r + n].decode()}")
            run = 0
            r += n
        elif op in "IS":
            q += n
    out.append(str(run))
    return "".join(out)


def seq_identity(cigar, nm):
    """Gap-compressed identity, Heng Li's definition."""
    m = g = o = 0
    prev = ""
    for n, op in cigar_ops(cigar):
        if op in "M=X":
            m += n
        elif op in "ID":
            g += n
            if prev != op:
                o += 1
        prev = op
    return (m - nm + g) / (m + o)


def query_coverage(cigar):
    """Aligned (M/=/X) share of the query length including clips."""
    ops = cigar_ops(cigar)
    m = sum(n for n, op in ops if op in "M=X")
    qlen = m + sum(n for n, op in ops if op in "ISH")
    return m / qlen


SHAPES = ("plain", "clip", "del", "ins")


def _make_alignment(rng, contig, read_len, shape):
    """(fwd read, cigar, position0, nm) for one read drawn from `contig`."""
    if shape == "clip":
        clip = int(rng.integers(3, 11))
        pos = int(rng.integers(0, len(contig) - read_len))
        body = contig[pos:pos + read_len - clip]
        fwd, cigar, aligned = _random_dna(rng, clip) + body, f"{clip}S{read_len - clip}M", np.arange(clip, read_len)
    elif shape == "del":
        a, d = int(rng.integers(40, 111)), int(rng.integers(1, 4))
        pos = int(rng.integers(0, len(contig) - read_len - d))
        fwd = contig[pos:pos + a] + contig[pos + a + d:pos + read_len + d]
        cigar, aligned = f"{a}M{d}D{read_len - a}M", np.arange(read_len)
    elif shape == "ins":
        a, i = int(rng.integers(40, 111)), int(rng.integers(1, 4))
        pos = int(rng.integers(0, len(contig) - read_len))
        fwd = contig[pos:pos + a] + _random_dna(rng, i) + contig[pos + a:pos + read_len - i]
        cigar = f"{a}M{i}I{read_len - a - i}M"
        aligned = np.r_[0:a, a + i:read_len]
    else:
        pos = int(rng.integers(0, len(contig) - read_len))
        fwd, cigar, aligned = contig[pos:pos + read_len], f"{read_len}M", np.arange(read_len)
    subs = np.unique(aligned[rng.integers(0, len(aligned), min(int(rng.poisson(1.0)), 4))])
    fwd = _substitute(rng, fwd, subs)
    gaps = sum(n for n, op in cigar_ops(cigar) if op in "ID")
    return fwd, cigar, pos, len(subs) + gaps


def _reg2bin(beg, end):
    end -= 1
    if beg >> 14 == end >> 14:
        return ((1 << 15) - 1) // 7 + (beg >> 14)
    if beg >> 17 == end >> 17:
        return ((1 << 12) - 1) // 7 + (beg >> 17)
    if beg >> 20 == end >> 20:
        return ((1 << 9) - 1) // 7 + (beg >> 20)
    if beg >> 23 == end >> 23:
        return ((1 << 6) - 1) // 7 + (beg >> 23)
    if beg >> 26 == end >> 26:
        return ((1 << 3) - 1) // 7 + (beg >> 26)
    return 0


_NIB = np.zeros(256, np.uint8)
for _i, _c in enumerate(b"=ACMGRSVTWYHKDBN"):
    _NIB[_c] = _i
_CIGAR_CODE = {op: i for i, op in enumerate("MIDNSHP=X")}


def _bam_record(rec, ref_ids):
    name, flag, ref, pos1, mapq, cigar, seq, qual, tags = rec
    ops = cigar_ops(cigar) if cigar != "*" else []
    pos0 = pos1 - 1
    end0 = pos0 + (ref_len(cigar) if ops else 1)
    codes = _NIB[np.frombuffer(seq, np.uint8)]
    if len(codes) % 2:
        codes = np.append(codes, np.uint8(0))
    packed = ((codes[0::2] << 4) | codes[1::2]).astype(np.uint8).tobytes()
    tag_bytes = b""
    for key, val in tags:
        if isinstance(val, int):
            tag_bytes += key.encode() + b"C" + struct.pack("<B", val) if 0 <= val < 256 \
                else key.encode() + b"i" + struct.pack("<i", val)
        else:
            tag_bytes += key.encode() + b"Z" + val.encode() + b"\0"
    rid = ref_ids.get(ref, -1)
    body = struct.pack("<iiBBHHHiiii", rid, pos0, len(name) + 1, mapq,
                       _reg2bin(max(pos0, 0), max(end0, 1)), len(ops), flag, len(seq), -1, -1, 0)
    body += name.encode() + b"\0"
    body += b"".join(struct.pack("<I", n << 4 | _CIGAR_CODE[op]) for n, op in ops)
    body += packed + qual + tag_bytes
    return struct.pack("<i", len(body)) + body


def _bgzf(raw):
    """BGZF-compress `raw`: gzip members of <= 64 KiB carrying the BC extra field."""
    out = bytearray()
    for off in range(0, len(raw), 65280):
        chunk = raw[off:off + 65280]
        c = zlib.compressobj(1, zlib.DEFLATED, -15)
        cdata = c.compress(chunk) + c.flush()
        bsize = len(cdata) + 25
        out += struct.pack("<BBBBIBBHBBHH", 31, 139, 8, 4, 0, 0, 255, 6, 66, 67, 2, bsize)
        out += cdata + struct.pack("<II", zlib.crc32(chunk), len(chunk))
    eof = bytes.fromhex("1f8b08040000000000ff0600424302001b0003000000000000000000")
    return bytes(out) + eof


def _write_bam(path, refs, records):
    ref_ids = {n: i for i, (n, _) in enumerate(refs)}
    text = ("@HD\tVN:1.6\tSO:unsorted\n" +
            "".join(f"@SQ\tSN:{n}\tLN:{l}\n" for n, l in refs)).encode()
    raw = bytearray(b"BAM\1" + struct.pack("<i", len(text)) + text + struct.pack("<i", len(refs)))
    for n, l in refs:
        raw += struct.pack("<i", len(n) + 1) + n.encode() + b"\0" + struct.pack("<i", l)
    for rec in records:
        raw += _bam_record(rec, ref_ids)
    with open(path, "wb") as f:
        f.write(_bgzf(bytes(raw)))


def _write_sam(path, refs, records):
    lines = ["@HD\tVN:1.6\tSO:unsorted"] + [f"@SQ\tSN:{n}\tLN:{l}" for n, l in refs]
    for name, flag, ref, pos1, mapq, cigar, seq, qual, tags in records:
        tag_txt = "".join(f"\t{k}:i:{v}" if isinstance(v, int) else f"\t{k}:Z:{v}" for k, v in tags)
        seq_txt = seq.decode() if seq else "*"
        qual_txt = qual.translate(_PHRED33).decode() if qual else "*"
        lines.append(f"{name}\t{flag}\t{ref}\t{pos1}\t{mapq}\t{cigar}\t*\t0\t0\t{seq_txt}\t{qual_txt}{tag_txt}")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _fastq(reads):
    return "".join(f"@{n}\n{s.decode()}\n+\n{qu.translate(_PHRED33).decode()}\n"
                   for n, s, qu in reads).encode()


def _miint_sample(out, seed, si, p, contigs):
    """Writes sample `si`'s BAM, SAM and FASTQ.gz; returns its truth rows
    (woltka, coverage, identity, fastq, bam)."""
    rng = np.random.Generator(np.random.PCG64([seed, KINDS.index("miint"), 1 + si]))
    rl = p["read_len"]
    refs = [(cid, len(s)) for cid, _, s in contigs]
    by_genome = {}
    for i, (_, gid, _) in enumerate(contigs):
        by_genome.setdefault(gid, []).append(i)
    genome_ids = sorted(by_genome)
    woltka, coverage, identity, fastq_truth, bam_truth = [], [], [], [], []
    sample = f"S{si}"
    abundance = rng.dirichlet(np.ones(p["genomes"]))
    records, reads = [], []
    feature_counts = {}
    intervals = {}
    n_primary = n_pass = sum_id = 0
    n = p["reads"]
    # per-read draws, vectorised: origin genome by the sample's
    # abundance, contig, alignment shape, strand, unmapped and
    # secondary-hit coin flips, base qualities
    genome_of = rng.choice(p["genomes"], n, p=abundance)
    contig_of = rng.integers(0, p["contigs"], n)
    shape_of = rng.choice(4, n, p=[0.7, 0.1, 0.1, 0.1])
    coins = rng.random((n, 3))
    quals = rng.integers(20, 41, (n, rl)).astype(np.uint8)
    for j in range(n):
        name = f"{sample}_r{j}"
        qual = quals[j].tobytes()
        if coins[j, 0] < 0.03:
            seq = _random_dna(rng, rl)
            reads.append((name, seq, qual))
            records.append((name, 4, "*", 0, 0, "*", seq, qual, []))
            continue
        ci = by_genome[genome_ids[genome_of[j]]][contig_of[j]]
        cid, _, cseq = contigs[ci]
        fwd, cigar, pos0, nm = _make_alignment(rng, cseq, rl, SHAPES[shape_of[j]])
        reverse = coins[j, 1] < 0.5
        reads.append((name, revcomp(fwd) if reverse else fwd, qual[::-1] if reverse else qual))
        md = md_tag(cigar, fwd, cseq, pos0)
        records.append((name, 16 if reverse else 0, cid, pos0 + 1, 60, cigar, fwd, qual,
                        [("NM", nm), ("MD", md), ("AS", 2 * rl - 6 * nm)]))
        refs_of_read = {cid}
        n_primary += 1
        ident = seq_identity(cigar, nm)
        if ident >= 0.97 and query_coverage(cigar) >= 0.9:
            n_pass += 1
        sum_id += int(np.floor(ident * 1e6))
        intervals.setdefault(cid, []).append((pos0 + 1, pos0 + 1 + ref_len(cigar)))
        if coins[j, 2] < 0.1:
            # a secondary hit on another genome: the multi-mapping
            # woltka splits fractionally
            others = [g for g in genome_ids if g != contigs[ci][1]]
            ci2 = by_genome[others[int(rng.integers(len(others)))]][int(rng.integers(p["contigs"]))]
            cid2, _, cseq2 = contigs[ci2]
            pos2 = int(rng.integers(0, len(cseq2) - rl))
            records.append((name, 256, cid2, pos2 + 1, 0, f"{rl}M", b"", b"", [("NM", 6), ("AS", 2 * rl - 36)]))
            refs_of_read.add(cid2)
        for r in refs_of_read:
            feature_counts[r] = feature_counts.get(r, 0.0) + 1.0 / len(refs_of_read)
    _write_bam(os.path.join(out, f"{sample}.bam"), refs, records)
    _write_sam(os.path.join(out, f"{sample}.sam"), refs, records)
    with open(os.path.join(out, f"{sample}.fq.gz"), "wb") as f:
        f.write(gzip.compress(_fastq(reads), compresslevel=1, mtime=0))
    for feat in sorted(feature_counts):
        woltka.append((sample, feat, repr(feature_counts[feat])))
    for gid in genome_ids:
        covered = 0
        for ci in by_genome[gid]:
            cid = contigs[ci][0]
            last = 0
            for s, e in sorted(intervals.get(cid, [])):
                s = max(s, last)
                if e > s:
                    covered += e - s
                    last = e
        total = sum(len(contigs[ci][2]) for ci in by_genome[gid])
        if covered:
            coverage.append((sample, gid, covered, total))
    identity.append((sample, n_primary, n_pass, sum_id))
    seqs = [s for _, s, _ in reads]
    fastq_truth.append((sample, len(reads), sum(len(s) for s in seqs),
                        sum(s.count(b"G") + s.count(b"C") for s in seqs)))
    bam_truth.append((sample, len(records), sum(r[3] for r in records)))
    return woltka, coverage, identity, fastq_truth, bam_truth


def gen_miint(out, seed, size):
    p = MIINT_SIZES[size]
    rng = _rng(seed, "miint")
    rl = p["read_len"]
    contigs = []  # (contig_id, genome_id, sequence)
    for g in range(p["genomes"]):
        for c in range(p["contigs"]):
            contigs.append((f"G{g}_c{c}", f"G{g}", _random_dna(rng, p["contig_len"])))
    _write_tsv(os.path.join(out, "genomes.tsv"), ["contig_id", "genome_id", "length"],
               [(cid, gid, len(s)) for cid, gid, s in contigs])
    with open(os.path.join(out, "contigs.fa"), "w") as f:
        for cid, _, s in contigs:
            f.write(f">{cid}\n{s.decode()}\n")

    # samples are independent, each drawn from its own stream, so they
    # are generated in parallel
    jobs = [(out, seed, si, p, contigs) for si in range(p["samples"])]
    workers = min(p["samples"], len(os.sched_getaffinity(0)))
    with concurrent.futures.ProcessPoolExecutor(workers) as ex:
        truths = list(ex.map(_miint_sample, *zip(*jobs)))
    woltka, coverage, identity, fastq_truth, bam_truth = ([x for t in truths for x in t[i]] for i in range(5))
    _write_tsv(os.path.join(out, "truth_woltka.tsv"), ["sample", "feature", "value"], woltka)
    _write_tsv(os.path.join(out, "truth_coverage.tsv"), ["sample", "genome", "covered", "total"], coverage)
    _write_tsv(os.path.join(out, "truth_identity.tsv"), ["sample", "n_primary", "n_pass", "sum_identity_micro"],
               identity)
    _write_tsv(os.path.join(out, "truth_fastq.tsv"), ["sample", "n_reads", "n_bases", "n_gc"], fastq_truth)
    _write_tsv(os.path.join(out, "truth_bam.tsv"), ["sample", "n_records", "sum_position"], bam_truth)

    for b in range(p["batches"]):
        reads, truth = [], []
        for j in range(p["batch_reads"]):
            ci = int(rng.integers(len(contigs)))
            cid, gid, cseq = contigs[ci]
            fwd, cigar, pos0, _ = _make_alignment(rng, cseq, rl, "plain")
            reverse = rng.random() < 0.5
            name = f"B{b}_r{j}"
            reads.append((name, revcomp(fwd) if reverse else fwd, rng.integers(20, 41, rl).astype(np.uint8).tobytes()))
            truth.append((name, cid, gid, pos0 + 1, "-" if reverse else "+"))
        with open(os.path.join(out, f"batch{b}.fq"), "wb") as f:
            f.write(_fastq(reads))
        _write_tsv(os.path.join(out, f"batch{b}.tsv"), ["read_id", "contig", "genome", "position", "strand"], truth)


# ---------------------------------------------------------------- corpus

STOPWORDS = ["the", "a", "and", "of", "to", "in"]
ALLOWED_LANGS = ["en", "es", "de", "fr"]


def gopher_reason(text, lang):
    """The drop reason the curation rules assign (None = keep)."""
    toks = text.lower().split()
    n = len(toks)
    if n < 50:
        return "too_short"
    if n > 100000:
        return "too_long"
    mean_len = sum(len(t) for t in toks) / n
    if mean_len < 3.0 or mean_len > 10.0:
        return "token_len"
    if sum(1 for t in toks if t.isascii() and t.isalpha() and t.islower()) / n < 0.8:
        return "alpha"
    if not any(t in STOPWORDS for t in toks):
        return "stopwords"
    if lang not in ALLOWED_LANGS:
        return "lang"
    return None


def gen_corpus(out, seed, size):
    p = CORPUS_SIZES[size]
    rng = _rng(seed, "corpus")
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", np.uint8)
    lens = rng.integers(3, 10, p["vocab"])
    vocab = [rng.choice(letters, n).tobytes().decode() for n in lens]

    def body(n):
        words = [vocab[i] for i in rng.integers(0, len(vocab), n)]
        for i in np.flatnonzero(rng.random(n) < 0.1):
            words[i] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
        words[0] = "the"
        return words

    docs = []  # (text, lang, kind)
    n = p["docs"]
    kinds = rng.choice(4, n, p=[0.8, 0.08, 0.06, 0.06])
    for k in kinds:
        if k == 0:
            docs.append((" ".join(body(int(rng.integers(80, 251)))), ALLOWED_LANGS[int(rng.integers(4))], "good"))
        elif k == 1:
            docs.append((" ".join(body(int(rng.integers(10, 41)))), "en", "short"))
        elif k == 2:
            docs.append((" ".join(body(int(rng.integers(80, 251)))), ["zh", "ja"][int(rng.integers(2))], "lang"))
        else:
            w = body(int(rng.integers(80, 251)))
            for i in range(1, len(w), 2):
                w[i] = str(int(rng.integers(1000, 10000)))
            docs.append((" ".join(w), "en", "alpha"))
    # plant near-duplicate clusters: each member is its base with two
    # token substitutions, far above the 0.7 5-shingle Jaccard cut
    good = [i for i, d in enumerate(docs) if d[2] == "good"]
    bases = rng.choice(good, max(1, len(good) // 20), replace=False)
    clusters = []
    for b in bases:
        members = [int(b)]
        for _ in range(int(rng.integers(1, 4))):
            w = docs[b][0].split()
            for i in rng.choice(np.arange(1, len(w)), 2, replace=False):
                w[i] = vocab[int(rng.integers(len(vocab)))]
            docs.append((" ".join(w), docs[b][1], "good"))
            members.append(len(docs) - 1)
        clusters.append(members)
    ids = rng.permutation(len(docs)).astype(np.int64)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array([d[0] for d in docs], pa.string()),
        "lang": pa.array([d[1] for d in docs], pa.string()),
    })
    # 16 row groups, so Spark splits the scan across cores
    pq.write_table(table, os.path.join(out, "docs.parquet"), compression="snappy",
                   row_group_size=-(-len(docs) // 16))
    in_cluster = {m for c in clusters for m in c}
    _write_tsv(os.path.join(out, "truth_docs.tsv"), ["doc_id", "n_chars", "drop_reason"],
               [(int(ids[i]), len(d[0]), gopher_reason(d[0], d[1]) or "") for i, d in enumerate(docs)])
    _write_tsv(os.path.join(out, "truth_clusters.tsv"), ["cluster", "doc_id"],
               [(ci, int(ids[m])) for ci, c in enumerate(clusters) for m in c])
    toks = [d[0].lower().split() for d in docs]
    _write_tsv(os.path.join(out, "truth_bm25.tsv"), ["n_postings", "sum_tf"],
               [(sum(len(set(t)) for t in toks), sum(len(t) for t in toks))])
    singles = [i for i in good if i not in in_cluster]
    qdocs = rng.choice(singles, p["queries"], replace=False)
    _write_tsv(os.path.join(out, "queries.tsv"), ["query_id", "doc_id", "query_text"],
               [(qi, int(ids[d]), " ".join(docs[d][0].split()[:30])) for qi, d in enumerate(qdocs)])


# ---------------------------------------------------------------- TPC-H

def gen_tpch(out, seed, size):
    """TPC-H-shaped star schema with the testdata column set and value domains."""
    sf = TPCH_SIZES[size]
    rng = _rng(seed, "tpch")
    rows = {t: max(10, int(n * sf)) for t, n in TPCH_BASE_ROWS.items()}

    def cents(lo, hi, n):
        return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0

    def dates(lo, hi, n):
        lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
        return (lo_d + rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)).astype("datetime64[us]")

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"), compression="snappy")

    _write_tsv(os.path.join(out, "rows.tsv"), ["table", "rows"],
               [("region", 5), ("nation", 25)] + sorted(rows.items()))
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = rows["customer"]
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    write("customer", {"c_custkey": pa.array(np.arange(n), pa.int64()),
                       "c_name": [f"Customer#{i:09d}" for i in range(n)],
                       "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                       "c_acctbal": cents(-999.99, 9999.99, n),
                       "c_mktsegment": segs[rng.integers(0, 5, n)]})
    n = rows["supplier"]
    write("supplier", {"s_suppkey": pa.array(np.arange(n), pa.int64()),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                       "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                       "s_acctbal": cents(-999.99, 9999.99, n)})
    n = rows["part"]
    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    write("part", {"p_partkey": pa.array(np.arange(n), pa.int64()),
                   "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "), noun[rng.integers(0, 8, n)]),
                   "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
                   "p_type": types[rng.integers(0, 6, n)],
                   "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
                   "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0})
    n = rows["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {"o_orderkey": pa.array(np.arange(n), pa.int64()),
                     "o_custkey": pa.array(rng.integers(0, rows["customer"], n), pa.int64()),
                     "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
                     "o_totalprice": cents(1000.0, 500000.0, n),
                     "o_orderdate": pa.array(dates("1995-01-01", "2001-08-01", n), pa.timestamp("us")),
                     "o_orderpriority": prio[rng.integers(0, 5, n)]})
    n = rows["lineitem"]
    write("lineitem", {"l_orderkey": pa.array(rng.integers(0, rows["orders"], n), pa.int64()),
                       "l_partkey": pa.array(rng.integers(0, rows["part"], n), pa.int64()),
                       "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n), pa.int64()),
                       "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                       "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                       "l_extendedprice": cents(900.0, 105000.0, n),
                       "l_discount": rng.integers(0, 11, n) / 100.0,
                       "l_tax": rng.integers(0, 9, n) / 100.0,
                       "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
                       "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
                       "l_shipdate": pa.array(dates("1995-01-02", "2001-11-04", n), pa.timestamp("us"))})
