"""Seeded GENIE center uploads for the nightly workload.

``write_uploads(root, seed)`` writes one upload tree, ``<root>/<CENTER>/``,
in the layout ``cli.cmd_nightly`` sweeps. Center sizes are uneven: the
first center holds most of the samples. It sends a clinical
sample/patient pair, a MAF, a BED panel, a wide CNA matrix, an assay YAML
and a ``sampleRetraction.csv``. The small center sends a clinical pair and
a MAF only.

Planted cases with known outcomes:

* the small center's MAF is invalid (rows whose barcode names no sample of
  that center), so its ingest returns rc 1 and records status INVALID;
* the small center also carries a file no format recognises, which the
  nightly skips;
* the small center has no BED panel, so the release withholds its samples;
* the large center's MAF holds off-panel variants that the BED filter drops;
* the retraction removes some of the large center's samples.

It returns those outcomes: the rc and changed-row count of every ingest
batch, the skipped file names, and the release's clinical and MAF row
counts. Only the standard library is used, so one seed gives the same
bytes on every host.
"""

from __future__ import annotations

import os
import random

# (name, share of samples, panel genes, full upload); a partial upload is
# the clinical pair and the MAF, with no panel, CNA, assay or retraction
CENTERS = (
    ("MSK", 0.85, 8, True),
    ("UHN", 0.15, 5, False),
)
INVALID_CENTER = "UHN"  # its MAF fails validation
UNRECOGNISED = "sequencing_notes_UHN.docx"  # lands in INVALID_CENTER's dir

# (gene, chromosome, panel interval start); each interval is GENE_LEN long
GENES = (
    ("TP53", "17", 7_571_700),
    ("EGFR", "7", 55_086_700),
    ("KRAS", "12", 25_358_100),
    ("BRAF", "7", 140_434_300),
    ("PIK3CA", "3", 178_866_300),
    ("PTEN", "10", 89_622_800),
    ("APC", "5", 112_043_200),
    ("ERBB2", "17", 37_844_100),
)
GENE_LEN = 4_000
SLOT = 16  # one sample's variants sit >= SLOT bp apart: no mutation-in-cis pairs
OFF_PANEL_CHROM = "22"  # no panel covers it, so the BED filter drops these rows
CNA_VALUES = ("-2", "-1", "0", "0", "0", "1", "2", "NA")

SIZES = {
    "samples": 320,
    "variants_per_sample": (4, 12),
    "off_panel_per_center": 6,
    "invalid_rows": 3,
    "retracted_samples": 6,
}

MAF_HEADER = ["Chromosome", "Start_Position", "End_Position", "Reference_Allele",
              "Tumor_Seq_Allele2", "Tumor_Sample_Barcode", "t_alt_count",
              "t_ref_count", "t_depth"]


def _tsv(header: list[str], rows: list[list]) -> str:
    return "\t".join(header) + "\n" + "".join(
        "\t".join(str(v) for v in r) + "\n" for r in rows
    )


def _write(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def batch_key(center: str, paths: list[str]) -> str:
    """Key of one ingest batch: the center plus its sorted file names."""
    return f"{center}:" + ";".join(sorted(os.path.basename(p) for p in paths))


class _Center:
    """One center's cohort, variant calls and upload files."""

    def __init__(self, rng: random.Random, name: str, n_samples: int, n_genes: int):
        self.rng, self.name = rng, name
        self.assay = f"{name}-PANEL-1"
        self.panel = GENES[:n_genes]
        self.patients: list[list] = []
        self.samples: list[list] = []
        for i in range(1, n_samples + 1):
            # one sample per patient: the merged clinical frame is keyed by both
            pid = f"GENIE-{name}-{i}"
            self.patients.append([
                pid, rng.choice((1, 2, 1, 2, 99)), rng.choice((1, 2, 3, 4)),
                rng.choice((1, 2, 99)), rng.randint(1940, 1995),
                rng.randint(2016, 2023), rng.randint(200, 4000), "False",
                "Not Applicable", "Not Applicable", name,
            ])
            cfdna = rng.random() < 0.1  # cfDNA samples carry SAMPLE_TYPE 8
            self.samples.append([
                f"{pid}-1", pid, rng.randint(18 * 365, 85 * 365), "UNKNOWN",
                8 if cfdna else rng.choice((1, 1, 2, 7)), self.assay,
                "cfDNA" if cfdna else "Tumor",
            ])
        self.variants: list[list] = []  # on-panel calls
        for s in self.samples:
            used: set[tuple[str, int]] = set()
            want = rng.randint(*SIZES["variants_per_sample"])
            while len(used) < want:
                _, chrom, start = rng.choice(self.panel)
                pos = start + SLOT * rng.randrange(1, GENE_LEN // SLOT - 1)
                if (chrom, pos) not in used:
                    used.add((chrom, pos))
                    self.variants.append(self._call(s[0], chrom, pos))
        self.off_panel = [
            self._call(rng.choice(self.samples)[0], OFF_PANEL_CHROM,
                       SLOT * rng.randrange(10_000_000 // SLOT, 40_000_000 // SLOT))
            for _ in range(SIZES["off_panel_per_center"])
        ]

    def _call(self, sid: str, chrom: str, pos: int) -> list:
        rng = self.rng
        ref = rng.choice("ACGT")
        alt = rng.choice([b for b in "ACGT" if b != ref])
        alt_n, ref_n = rng.randint(5, 300), rng.randint(20, 900)
        return [chrom, pos, pos, ref, alt, sid, alt_n, ref_n, alt_n + ref_n]

    def write(self, cdir: str, invalid: bool, full: bool) -> dict[str, int]:
        """Write the upload files; return file name -> rows its ingest writes."""
        c = self.name
        files: dict[str, tuple[str, int]] = {}
        files[f"data_clinical_supp_sample_{c}.txt"] = (_tsv(
            ["SAMPLE_ID", "PATIENT_ID", "AGE_AT_SEQ_REPORT", "ONCOTREE_CODE",
             "SAMPLE_TYPE", "SEQ_ASSAY_ID", "SAMPLE_CLASS"], self.samples), len(self.samples))
        files[f"data_clinical_supp_patient_{c}.txt"] = (_tsv(
            ["PATIENT_ID", "SEX", "PRIMARY_RACE", "ETHNICITY", "BIRTH_YEAR",
             "YEAR_CONTACT", "INT_CONTACT", "DEAD", "YEAR_DEATH", "INT_DOD",
             "CENTER"], self.patients), 0)
        maf = self.variants + self.off_panel
        if invalid:
            maf = maf + [r[:5] + [f"SAMPLE-{c}-{i}"] + r[6:]
                         for i, r in enumerate(self.variants[: SIZES["invalid_rows"]])]
        files[f"data_mutations_extended_{c}.txt"] = (_tsv(MAF_HEADER, maf), len(maf))
        if full:
            files.update(self._panel_files(c))
        for name, (text, _) in files.items():
            _write(os.path.join(cdir, name), text)
        return {name: n for name, (_, n) in files.items()}

    def _panel_files(self, c: str) -> dict[str, tuple[str, int]]:
        files = {}
        files[f"{self.assay}.bed"] = ("".join(
            f"{chrom}\t{start}\t{start + GENE_LEN}\t{gene}\tTrue\n"
            for gene, chrom, start in self.panel
        ), len(self.panel))
        files[f"{c}_assay_information.yaml"] = (
            f"{self.assay}:\n"
            "  is_paired_end: true\n"
            "  library_selection: Hybrid Selection\n"
            "  library_strategy: Targeted Sequencing\n"
            "  platform: Illumina\n"
            "  instrument_model: Illumina NovaSeq 6000\n"
            f"  target_capture_kit: {c.lower()}-kit-1\n"
            "  read_length: 150\n"
            f"  number_of_genes: {len(self.panel)}\n"
            "  alteration_types: snv;small_indels;gene_level_cna\n", 1)
        ids = [s[0] for s in self.samples]
        rows = [[gene] + [self.rng.choice(CNA_VALUES) for _ in ids] for gene, _, _ in self.panel]
        cells = sum(v != "NA" for r in rows for v in r[1:])
        files[f"data_CNA_{c}.txt"] = (_tsv(["Hugo_Symbol"] + ids, rows), cells)
        return files


def write_uploads(root: str, seed: int) -> dict:
    """Write ``<root>/<CENTER>/...``; return the expected nightly outcomes."""
    rng = random.Random(seed)
    total = SIZES["samples"]
    batches: dict[str, tuple[int, int]] = {}
    clinical = maf = 0
    for name, share, n_genes, full in CENTERS:
        cen = _Center(rng, name, max(4, round(total * share)), n_genes)
        cdir = os.path.join(root, name)
        rows = cen.write(cdir, invalid=name == INVALID_CENTER, full=full)
        pair = [f for f in rows if f.startswith("data_clinical_supp_")]
        batches[batch_key(name, pair)] = (0, sum(rows[f] for f in pair))
        for f, n in rows.items():
            if f not in pair:
                bad = name == INVALID_CENTER and f.startswith("data_mutations_")
                batches[batch_key(name, [f])] = (1, 0) if bad else (0, n)
        if name == INVALID_CENTER:
            _write(os.path.join(cdir, UNRECOGNISED), "free-text notes, not an upload\n")
        if not full:  # no panel: the release withholds every sample
            continue
        retracted = set(rng.sample([s[0] for s in cen.samples], SIZES["retracted_samples"]))
        _write(os.path.join(cdir, "sampleRetraction.csv"),
               "".join(f"{s}\n" for s in sorted(retracted)))
        # the retraction's own rows plus the clinical rows its cascade deletes
        batches[batch_key(name, ["sampleRetraction.csv"])] = (0, 2 * len(retracted))
        clinical += len(cen.samples) - len(retracted)
        maf += sum(v[5] not in retracted for v in cen.variants)
    return {
        "batches": batches,
        "skipped": [UNRECOGNISED],
        "nightly_rc": 1,
        "release": {"clinical": clinical, "maf": maf},
    }
