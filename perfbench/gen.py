"""Seeded inputs for the three workloads, with their expected answers.

Plain Python, no Spark: the program under test sees only the files
written here, and every expected answer is computed from the records
as generated, never from the program's output.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

CONTIGS = ("1", "2", "3")
CONTIG_LEN = 50_000_000
CSQ_DESC = (
    "Consequence annotations from Ensembl VEP. Format: "
    "Allele|Consequence|IMPACT|SYMBOL|SYMBOL_SOURCE|Gene|Feature_type"
    "|Feature|BIOTYPE|EXON|INTRON|CANONICAL"
)
_CONSEQUENCES = (
    ("missense_variant", "MODERATE"),
    ("synonymous_variant", "LOW"),
    ("intron_variant", "MODIFIER"),
    ("splice_region_variant&intron_variant", "LOW"),
    ("stop_gained", "HIGH"),
    ("3_prime_UTR_variant", "MODIFIER"),
)
_BIOTYPES = ("protein_coding", "protein_coding", "lincRNA", "nonsense_mediated_decay")
# GT string -> dosage under the reference's gt2snp rules
# (pipeline/02-build-db.R:101-108): 0/. counts as hom-ref, ./1 as het,
# ./. and multi-allelic codes as missing.
GT_DOSAGE = {
    "0/0": 0.0, "0|0": 0.0, "0/.": 0.0,
    "0/1": 1.0, "1|0": 1.0, "0|1": 1.0, "./1": 1.0,
    "1/1": 2.0, "1|1": 2.0,
    "./.": None,
}
_GT_BY_DOSE = {
    0: ("0/0", "0/0", "0/0", "0|0", "0/."),
    1: ("0/1", "0/1", "1|0", "0|1", "./1"),
    2: ("1/1", "1/1", "1|1"),
}
_BASES = "ACGT"


@dataclass
class Variant:
    chrom: str
    pos: int
    ref: str
    alt: str
    af: float
    csq: list[tuple[str, str]]  # (symbol, consequence) per transcript
    gts: list[str]
    dps: list[int | None]

    @property
    def key(self) -> tuple:
        return (CONTIGS.index(self.chrom), self.chrom, self.pos, self.ref, self.alt)

    @property
    def end(self) -> int:
        return self.pos + len(self.ref) - 1


@dataclass
class VcfSet:
    """A base VCF, an append increment and everything a check needs."""

    base_path: str
    inc_path: str
    samples: list[str]
    genes: list[str]
    hot_gene: str
    base: list[Variant]  # id order: base[i] has variant_id i + 1
    inc: list[Variant]  # id order after the base: inc[j] has id N + j + 1
    rejects: list[tuple]  # sorted (chr, start or -1, ref, alt, reason)
    input_bytes: int = 0
    _by_gene: dict = field(default_factory=dict, repr=False)

    def all_variants(self) -> list[Variant]:
        return self.base + self.inc

    # ---- expected answers over the whole store: base, then increment ----
    def impact_rows(self, variants: list[Variant]) -> int:
        return sum(
            len(cons.split("&")) for v in variants for _, cons in v.csq
        )

    def gene_ids(self, symbol: str) -> list[int]:
        if not self._by_gene:
            for i, v in enumerate(self.all_variants(), start=1):
                for sym in {s for s, _ in v.csq}:
                    self._by_gene.setdefault(sym, []).append(i)
        return self._by_gene.get(symbol, [])

    def filter_test(self, symbol: str, af: float) -> set[tuple[int, str, float]]:
        allv = self.all_variants()
        return {
            (i, symbol, allv[i - 1].af)
            for i in self.gene_ids(symbol)
            if allv[i - 1].af < af
        }

    def per_gene_counts(self, af: float, bin_width: int = 500) -> set[tuple]:
        out = set()
        for sym in self.genes:
            n = len(self.filter_test(sym, af))
            if n:
                out.add((sym, n, -(-n // bin_width)))
        return out

    def interval(self, chrom: str, start: int, end: int) -> set[int]:
        return {
            i
            for i, v in enumerate(self.all_variants(), start=1)
            if v.chrom == chrom and v.pos <= end and v.end >= start
        }

    def geno_rows(self, ids) -> list[tuple]:
        """(variant_id, sample, gt dosage, dp) for every sample of ``ids``
        over base + increment ids."""
        allv = self.all_variants()
        out = []
        for i in sorted(set(ids)):
            v = allv[i - 1]
            for s, gt, dp in zip(self.samples, v.gts, v.dps):
                out.append((i, s, GT_DOSAGE[gt], dp))
        return out


def _gene_layout(rng: random.Random, n_genes: int, n_variants: int):
    """Skewed gene sizes: one hot gene holds ~10% of the variants, the
    rest follow a Zipf-like tail.  Genes sit in contiguous position
    ranges so a gene's variants are neighbours, as in a genome."""
    weights = [1.0 / (k + 1) ** 0.8 for k in range(n_genes - 1)]
    total = sum(weights)
    counts = [max(3, int(0.9 * n_variants * w / total)) for w in weights]
    hot = max(1, n_variants - sum(counts))
    counts.insert(rng.randrange(n_genes), hot)
    names = [f"GENE{k:03d}" for k in range(n_genes)]
    return names, counts


def _genotypes(rng: random.Random, af: float, n: int):
    gts, dps = [], []
    p = max(af, 0.002)
    for _ in range(n):
        if rng.random() < 0.03:
            gts.append("./.")
            dps.append(None)
            continue
        dose = (rng.random() < p) + (rng.random() < p)
        gts.append(rng.choice(_GT_BY_DOSE[dose]))
        dps.append(None if rng.random() < 0.02 else int(rng.gauss(30, 8)) % 90 + 1)
    return gts, dps


def _af(rng: random.Random) -> float:
    # about a third rare (< 0.01); values never sit on the 0.01 boundary
    if rng.random() < 0.35:
        return round(rng.uniform(0.0001, 0.0099), 6)
    return round(rng.uniform(0.0101, 0.6), 6)


def _variants(rng, names, counts, samples, span_start, used) -> list[Variant]:
    """Variants for every gene, placed in gene order along the contigs."""
    out = []
    for g, (name, cnt) in enumerate(zip(names, counts)):
        lo = span_start[g]
        for _ in range(cnt):
            cidx = min(len(CONTIGS) - 1, lo // CONTIG_LEN)
            while True:
                pos = lo % CONTIG_LEN + 1 + rng.randrange(max(cnt * 40, 200))
                ref = rng.choice(_BASES)
                if rng.random() < 0.1:
                    ref += "".join(rng.choice(_BASES) for _ in range(rng.randint(1, 3)))
                alt = rng.choice([b for b in _BASES if b != ref[0]])
                k = (CONTIGS[cidx], pos, ref, alt)
                if k not in used:
                    used.add(k)
                    break
            n_tx = rng.choice((1, 1, 2, 2, 3))
            csq = []
            for t in range(n_tx):
                sym = name
                if t and rng.random() < 0.15:  # overlapping neighbour gene
                    sym = names[(g + 1) % len(names)]
                csq.append((sym, rng.choice(_CONSEQUENCES)[0]))
            af = _af(rng)
            gts, dps = _genotypes(rng, af, len(samples))
            out.append(Variant(CONTIGS[cidx], pos, ref, alt, af, csq, gts, dps))
    return out


def _vcf_header(samples: list[str]) -> list[str]:
    lines = ["##fileformat=VCFv4.2"]
    lines += [f"##contig=<ID={c},length={CONTIG_LEN}>" for c in CONTIGS]
    lines += [
        '##INFO=<ID=AC,Number=A,Type=Integer,Description="Allele count">',
        '##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency">',
        '##INFO=<ID=AN,Number=1,Type=Integer,Description="Allele number">',
        f'##INFO=<ID=CSQ,Number=.,Type=String,Description="{CSQ_DESC}">',
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">',
        "\t".join(
            ["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT"]
            + samples
        ),
    ]
    return lines


def _record(v: Variant, rng: random.Random, pos_text: str | None = None) -> str:
    csq = ",".join(
        f"{v.alt}|{cons}|{dict(_CONSEQUENCES).get(cons, 'LOW')}|{sym}|EntrezGene"
        f"|ENSG_{sym}|Transcript|ENST_{sym}_{t}|{rng.choice(_BIOTYPES)}|||"
        f"{'YES' if t == 0 else ''}"
        for t, (sym, cons) in enumerate(v.csq)
    )
    an = 2 * len(v.gts)
    ac = sum(int(GT_DOSAGE[g] or 0) for g in v.gts)
    info = f"AC={ac};AF={v.af:.6f};AN={an};CSQ={csq}"
    cells = [
        f"{gt}:{'.' if dp is None else dp}" for gt, dp in zip(v.gts, v.dps)
    ]
    qual = f"{rng.randint(20, 99)}"
    return "\t".join(
        [v.chrom, pos_text or str(v.pos), ".", v.ref, v.alt, qual, "PASS", info, "GT:DP"]
        + cells
    )


def _write_vcf(path: str, samples, variants, rng, extra: list[str]) -> None:
    # records in file order = position order with ties shuffled; the
    # planted rejects sit in the middle of the stream
    lines = [_record(v, rng) for v in sorted(variants, key=lambda v: (v.key[0], v.pos, rng.random()))]
    for k, line in enumerate(extra):
        lines.insert((k + 1) * len(lines) // (len(extra) + 1), line)
    with open(path, "w") as fh:
        fh.write("\n".join(_vcf_header(samples) + lines) + "\n")


def make_vcf_set(
    out_dir: str,
    seed: int,
    n_variants: int,
    n_increment: int,
    n_samples: int,
    n_genes: int = 60,
) -> VcfSet:
    """Write ``base.vcf`` and ``increment.vcf`` under ``out_dir``."""
    rng = random.Random(f"vcf:{seed}:{n_variants}:{n_samples}")
    samples = [f"S{k:04d}" for k in range(n_samples)]
    names, counts = _gene_layout(rng, n_genes, n_variants)
    stride = CONTIG_LEN * len(CONTIGS) // n_genes
    starts = [g * stride for g in range(n_genes)]
    used: set = set()
    base = _variants(rng, names, counts, samples, starts, used)
    # increment: same cohort, new sites spread over the same genes
    inc_counts = [0] * n_genes
    for _ in range(n_increment):
        inc_counts[rng.randrange(n_genes)] += 1
    inc = _variants(rng, names, inc_counts, samples, starts, used)
    base.sort(key=lambda v: v.key)
    inc.sort(key=lambda v: v.key)

    # planted rejects: multiallelic sites and unparseable positions
    rejects, extra = [], []
    for k in range(4):
        v = Variant("2", 1_000 + 7 * k, "A", "C,T", 0.3, [(names[0], "intron_variant")],
                    *_genotypes(rng, 0.3, n_samples))
        extra.append(_record(v, rng))
        rejects.append(("2", v.pos, "A", "C,T", "multiallelic"))
    for k in range(2):
        v = Variant("3", 0, "G", "A", 0.2, [(names[1], "intron_variant")],
                    *_genotypes(rng, 0.2, n_samples))
        extra.append(_record(v, rng, pos_text=f"x{k}"))
        rejects.append(("3", -1, "G", "A", "malformed"))

    os.makedirs(out_dir, exist_ok=True)
    base_path = os.path.join(out_dir, "base.vcf")
    inc_path = os.path.join(out_dir, "increment.vcf")
    _write_vcf(base_path, samples, base, rng, extra)
    _write_vcf(inc_path, samples, inc, rng, [])
    return VcfSet(
        base_path=base_path,
        inc_path=inc_path,
        samples=samples,
        genes=names,
        hot_gene=names[counts.index(max(counts))],
        base=base,
        inc=inc,
        rejects=sorted(rejects),
        input_bytes=os.path.getsize(base_path) + os.path.getsize(inc_path),
    )


# ---------------------------------------------------------------------------
# corpus for the streaming filter + dedup workload
# ---------------------------------------------------------------------------

MIN_TOKENS = 20  # stream_corpus_filter defaults
MIN_TTR = 0.3
SHINGLE_N = 3  # minhash_signatures defaults
MAX_WORDS = 50
JACCARD_THRESHOLD = 0.5  # the S-curve midpoint of 4 bands x 2 rows


@dataclass
class Corpus:
    files: list[list[dict]]  # file order == batch order
    clusters: list[list[int]]  # planted near-duplicate clusters
    paths: list[str] = field(default_factory=list)  # one parquet file per batch
    input_bytes: int = 0

    def docs(self) -> list[dict]:
        return [d for f in self.files for d in f]


def passes_gates(text: str) -> bool:
    """The documented length and type-token-ratio gates."""
    toks = text.split(" ")
    return len(toks) >= MIN_TOKENS and len(set(toks)) / len(toks) >= MIN_TTR


def shingles(text: str) -> set[str]:
    words = text.split(" ")[:MAX_WORDS]
    if len(words) < SHINGLE_N:
        return {" ".join(words)}
    return {" ".join(words[i : i + SHINGLE_N]) for i in range(len(words) - SHINGLE_N + 1)}


def jaccard(a: str, b: str) -> float:
    x, y = shingles(a), shingles(b)
    return len(x & y) / len(x | y)


def make_corpus(
    out_dir: str, seed: int, n_files: int, docs_per_file: int, vocab: int = 5000
) -> Corpus:
    """Write one parquet file per micro-batch under ``out_dir``.

    Make-up of each file: ~70% distinct documents, ~8% too short,
    ~7% low type-token ratio, and members of planted near-duplicate
    clusters.  A cluster's members share the first 50 words (the
    shingle window) and differ after it, so every pair is a certain
    candidate; they are spread over files so the stream must match
    them across batches.  Soft near-duplicates (one word changed
    inside the window) and half-overlapping documents give the band
    index probable and improbable candidates as well.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"corpus:{seed}:{n_files}:{docs_per_file}")
    words = [f"w{k}" for k in range(vocab)]

    def fresh(n: int) -> list[str]:
        return [rng.choice(words) for _ in range(n)]

    files: list[list[dict]] = [[] for _ in range(n_files)]
    clusters: list[list[int]] = []
    next_id = [1]
    roots: list[list[str]] = []

    def add(f: int, toks: list[str], source: str) -> int:
        did = next_id[0]
        next_id[0] += 1
        files[f].append(
            {"doc_id": did, "text": " ".join(toks), "lang": rng.choice(("en", "de")), "source": source}
        )
        return did

    n_clusters = max(2, docs_per_file // 25)
    for f in range(n_files):
        for _ in range(docs_per_file):
            r = rng.random()
            if r < 0.08:
                add(f, fresh(rng.randint(3, MIN_TOKENS - 1)), "short")
            elif r < 0.15:
                base = fresh(3)
                add(f, [rng.choice(base) for _ in range(rng.randint(30, 60))], "repetitive")
            elif r < 0.20 and roots:
                # soft near-duplicate: one word changed late in the window
                toks = list(rng.choice(roots))
                toks[rng.randint(40, MAX_WORDS - 1)] = rng.choice(words)
                add(f, toks, "soft")
            elif r < 0.24 and roots:
                # shares about half of the window with an earlier root
                toks = list(rng.choice(roots))
                cut = rng.randint(22, 28)
                add(f, toks[:cut] + fresh(len(toks) - cut), "overlap")
            else:
                toks = fresh(rng.randint(MAX_WORDS + 5, 90))
                add(f, toks, "web")
                if len(roots) < 4 * n_clusters:
                    roots.append(toks)
    # planted clusters: a root plus 2-4 members in other files
    for c in range(n_clusters * n_files // 2):
        toks = fresh(rng.randint(MAX_WORDS + 10, 80))
        members = []
        for k in range(rng.randint(3, 5)):
            f = rng.randrange(n_files)
            tail = fresh(rng.randint(5, 20))
            members.append(add(f, toks[:MAX_WORDS] + tail, "planted"))
        clusters.append(members)

    os.makedirs(out_dir, exist_ok=True)
    total, paths = 0, []
    for f, docs in enumerate(files):
        rng.shuffle(docs)
        path = os.path.join(out_dir, f"part-{f:05d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
                    "text": [d["text"] for d in docs],
                    "lang": [d["lang"] for d in docs],
                    "source": [d["source"] for d in docs],
                }
            ),
            path,
        )
        # strictly increasing modification times pin the batch order:
        # the file source orders new files by mtime, and first-seen-wins
        # keeps a different document when two batches swap
        os.utime(path, (1_000_000_000 + f, 1_000_000_000 + f))
        total += os.path.getsize(path)
        paths.append(path)
    return Corpus(files=files, clusters=clusters, paths=paths, input_bytes=total)
