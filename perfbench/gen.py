"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's seed
and a directory to write into, writes real input files in the formats the
pipelines read (mzML, idXML, DIA-NN TSV, legacy design TSV, corpus parquet),
and returns the pandas frames it wrote them from. The benchmark checks the
program's outputs against those frames with numpy/pandas oracles of its own;
the program itself only ever sees the files.

Sizes are fixed per workload, so every seed does the same amount of work and
only the values change.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

ISO = 1.003355  # isotope spacing (Da) the feature finder groups by
SCAN_BASE = 1  # scan number of spectrum index 0

# mzml_stats: DDA runs, one MS1 then four MS2 per duty cycle.
DDA_RUNS = 4
DDA_SPECTRA = 200
DDA_CYCLE = 5
MS1_PEAKS = (300, 500)
MS2_PEAKS = (60, 240)

# mzml_features: MS1-only runs with implanted isotope envelopes over noise.
FEAT_RUNS = 2
FEAT_SCANS = 120
FEAT_NOISE_PEAKS = (150, 250)
FEAT_IMPLANTS = 30

# diann_msstats: one report over many runs, some missing from the design.
DIANN_RUNS = 24
DIANN_MISSING_RUNS = 3
DIANN_ROWS = 60_000
DIANN_PEPTIDOFORMS = 4_000
QVALUE_THRESHOLD = 0.01

# corpus_curation: documents over four sources, a quarter in planted
# exact/near-duplicate families.
CORPUS_DOCS = 1_600
CORPUS_FAMILY_SHARE = 0.25
CORPUS_SOURCES = ("web", "books", "wiki", "forum")
CORPUS_VOCAB = 4_000
CORPUS_TOKEN_BUDGET = 11_500


@dataclass
class DdaInputs:
    mzml: list[str]
    idxml: list[str]
    spectra: pd.DataFrame  # SPECTRUM_SCHEMA columns, every run
    psms: pd.DataFrame  # one row per target hit: run, scan_number
    in_bytes: int = 0


@dataclass
class FeatureInputs:
    mzml: list[str]
    spectra: pd.DataFrame
    implants: pd.DataFrame  # run, mono_mz, charge, apex_rt
    in_bytes: int = 0


@dataclass
class DiannInputs:
    report: str
    design: str
    rows: pd.DataFrame  # the report as written, plus the expected sequence
    design_map: pd.DataFrame  # Run, Condition, BioReplicate
    in_bytes: int = 0


@dataclass
class CorpusInputs:
    docs_path: str
    docs: pd.DataFrame  # doc_id, text, source, family (-1 = none)
    token_budget: int = CORPUS_TOKEN_BUDGET
    in_bytes: int = 0


def _file_bytes(paths) -> int:
    return sum(Path(p).stat().st_size for p in paths)


# ---------------------------------------------------------------------------
# mzML / idXML
# ---------------------------------------------------------------------------


def _spectrum_rows(rng: np.random.Generator, stem: str, n: int) -> list[tuple]:
    """One DDA run: MS1 every DDA_CYCLE spectra, MS2 precursors picked from
    the preceding MS1's peaks so the purity window sees real intensity."""
    rows = []
    rt = 0.0
    ms1_mz = ms1_int = None
    for i in range(n):
        rt += float(rng.uniform(0.2, 0.6))
        if i % DDA_CYCLE == 0:
            k = int(rng.integers(*MS1_PEAKS))
            mz = np.sort(rng.uniform(300.0, 1600.0, k))
            inten = rng.lognormal(9.0, 1.2, k)
            ms1_mz, ms1_int = mz, inten
            rows.append((stem, i, str(SCAN_BASE + i), 1, rt, mz, inten,
                         None, None, None))
        else:
            k = int(rng.integers(*MS2_PEAKS))
            mz = np.sort(rng.uniform(100.0, 2000.0, k))
            inten = rng.lognormal(7.0, 1.0, k)
            pick = int(rng.integers(0, len(ms1_mz)))
            rows.append((stem, i, str(SCAN_BASE + i), 2, rt, mz, inten,
                         int(rng.integers(2, 5)), float(ms1_mz[pick]),
                         float(ms1_int[pick])))
    return rows


def _spectra_frame(rows: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=[
        "reference_file_name", "spectrum_index", "scan", "ms_level", "rt",
        "mz_array", "intensity_array", "precursor_charge", "precursor_mz",
        "precursor_intensity",
    ])


def _write_mzml(path: Path, frame: pd.DataFrame) -> str:
    from quantms_utils_spark.sources.mzml_xml import write_mzml

    out = frame.assign(acquisition_datetime="2024-01-01T00:00:00")
    return write_mzml(str(path), out, compress=True, dtype="f8",
                      start_time_stamp="2024-01-01T00:00:00")


_RESIDUES = np.array(list("ACDEFGHIKLMNPQRSTVWY"))


def _write_idxml(path: Path, stem: str, pids: list[tuple]) -> str:
    """idXML in the shape of tests/fixtures/tiny.idXML: a ConsensusID run over
    two engines; ``pids`` holds (scan, rt, mz, [(sequence, charge, score,
    is_decoy, pep), ...])."""
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<IdXML version="1.5">',
        '<SearchParameters id="SP_0" db="db.fasta" mass_type="monoisotopic" '
        'enzyme="trypsin" missed_cleavages="1">',
        '\t<UserParam type="string" name="SE:MS-GF+" value=""/>',
        '\t<UserParam type="string" name="SE:Comet" value=""/>',
        "</SearchParameters>",
        '<IdentificationRun date="2024-01-01T00:00:00" '
        'search_engine="ConsensusID" search_engine_version="3.1" '
        'search_parameters_ref="SP_0">',
        '\t<ProteinIdentification score_type="" higher_score_better="true" '
        'significance_threshold="0">',
        '\t\t<ProteinHit id="PH_0" accession="P10000" score="0.0" sequence="">',
        '\t\t\t<UserParam type="string" name="target_decoy" value="target"/>',
        "\t\t</ProteinHit>",
        '\t\t<ProteinHit id="PH_1" accession="DECOY_P10000" score="0.0" '
        'sequence="">',
        '\t\t\t<UserParam type="string" name="target_decoy" value="decoy"/>',
        "\t\t</ProteinHit>",
        f'\t\t<UserParam type="stringList" name="spectra_data" '
        f'value="[{stem}.mzML]"/>',
        "\t</ProteinIdentification>",
    ]
    for scan, rt, mz, hits in pids:
        out.append(
            f'\t<PeptideIdentification score_type="q-value" '
            f'higher_score_better="false" significance_threshold="0" '
            f'MZ="{mz!r}" RT="{rt!r}" spectrum_reference='
            f'"controllerType=0 controllerNumber=1 scan={scan}">'
        )
        for seq, charge, score, decoy, pep in hits:
            td = "decoy" if decoy else "target"
            ref = "PH_1" if decoy else "PH_0"
            out.append(
                f'\t\t<PeptideHit score="{score!r}" sequence="{seq}" '
                f'charge="{charge}" start="10" end="{10 + len(seq)}" '
                f'protein_refs="{ref}">'
            )
            out.append(f'\t\t\t<UserParam type="string" name="target_decoy" '
                       f'value="{td}"/>')
            out.append('\t\t\t<UserParam type="float" name="consensus_support" '
                       'value="0.9"/>')
            out.append(f'\t\t\t<UserParam type="float" name="Posterior Error '
                       f'Probability_score" value="{pep!r}"/>')
            out.append("\t\t</PeptideHit>")
        out.append("\t</PeptideIdentification>")
    out += ["</IdentificationRun>", "</IdXML>", ""]
    path.write_text("\n".join(out))
    return str(path)


def _peptide(rng: np.random.Generator) -> str:
    seq = "".join(rng.choice(_RESIDUES, int(rng.integers(7, 16))))
    if rng.random() < 0.3:
        i = int(rng.integers(0, len(seq)))
        if seq[i] == "M":
            seq = seq[: i + 1] + "(Oxidation)" + seq[i + 1:]
    return seq


def make_dda(rng: np.random.Generator, out: Path) -> DdaInputs:
    """DDA_RUNS mzML runs plus one idXML per run. About 60% of MS2 scans get a
    peptide identification; a few identifications point at scans the run does
    not have, so the PSM-to-peak join has real misses."""
    mzml, idxml, frames, psm_rows = [], [], [], []
    for r in range(DDA_RUNS):
        stem = f"dda_run{r:02d}"
        frame = _spectra_frame(_spectrum_rows(rng, stem, DDA_SPECTRA))
        mzml.append(_write_mzml(out / f"{stem}.mzML", frame))
        frames.append(frame)
        ms2 = frame[frame["ms_level"] == 2]
        picked = ms2[rng.random(len(ms2)) < 0.6]
        scans = [int(s) for s in picked["scan"]]
        scans += [int(SCAN_BASE + DDA_SPECTRA + 100 + k) for k in range(10)]
        pids = []
        for scan in scans:
            hits = []
            for rank in range(int(rng.integers(1, 4))):
                decoy = rank > 0 and rng.random() < 0.5
                hits.append((_peptide(rng), int(rng.integers(2, 5)),
                             float(rng.uniform(0, 0.05)), decoy,
                             float(rng.uniform(0, 1))))
                if not decoy:
                    psm_rows.append((stem, scan))
            pids.append((scan, float(rng.uniform(1, 300)),
                         float(rng.uniform(300, 1600)), hits))
        idxml.append(_write_idxml(out / f"{stem}.idXML", stem, pids))
    psms = pd.DataFrame(psm_rows, columns=["reference_file_name", "scan_number"])
    return DdaInputs(mzml, idxml, pd.concat(frames, ignore_index=True), psms,
                     _file_bytes(mzml + idxml))


def make_features(rng: np.random.Generator, out: Path) -> FeatureInputs:
    """MS1-only runs in the style of tests/test_feature_finder.py: each run
    carries FEAT_IMPLANTS isotope envelopes (2-3 isotopes, charge 1-3, a
    Gaussian elution profile over 7-11 consecutive scans) on top of random
    noise peaks that never repeat at one m/z."""
    mzml, frames, implants = [], [], []
    for r in range(FEAT_RUNS):
        stem = f"ms1_run{r:02d}"
        # monoisotopic m/z spread 8 Th apart so envelopes never interleave
        monos = 400.0 + 8.0 * rng.permutation(90)[:FEAT_IMPLANTS] + rng.uniform(
            0.1, 0.4, FEAT_IMPLANTS)
        env = []
        for mono in monos:
            z = int(rng.integers(1, 4))
            width = int(rng.integers(7, 12))
            start = int(rng.integers(2, FEAT_SCANS - width - 2))
            n_iso = int(rng.integers(2, 4))
            height = float(rng.lognormal(11.0, 0.5))
            env.append((float(mono), z, start, width, n_iso, height))
        rows = []
        rt = 0.0
        rts = []
        for i in range(FEAT_SCANS):
            rt += float(rng.uniform(0.8, 1.2))
            rts.append(rt)
            k = int(rng.integers(*FEAT_NOISE_PEAKS))
            mz = list(rng.uniform(300.0, 1500.0, k))
            inten = list(rng.lognormal(6.0, 0.7, k))
            for mono, z, start, width, n_iso, height in env:
                if start <= i < start + width:
                    centre = start + (width - 1) / 2.0
                    prof = np.exp(-0.5 * ((i - centre) / (width / 4.0)) ** 2)
                    for j in range(n_iso):
                        mz.append(mono + j * ISO / z + rng.normal(0, 0.0005))
                        inten.append(height * prof * (0.8 ** j))
            order = np.argsort(mz)
            rows.append((stem, i, str(SCAN_BASE + i), 1, rt,
                         np.asarray(mz)[order], np.asarray(inten)[order],
                         None, None, None))
        for mono, z, start, width, _n_iso, _h in env:
            implants.append((stem, mono, z, rts[start + (width - 1) // 2]))
        frame = _spectra_frame(rows)
        mzml.append(_write_mzml(out / f"{stem}.mzML", frame))
        frames.append(frame)
    return FeatureInputs(
        mzml, pd.concat(frames, ignore_index=True),
        pd.DataFrame(implants, columns=["reference_file_name", "mono_mz",
                                        "charge", "apex_rt"]),
        _file_bytes(mzml),
    )


# ---------------------------------------------------------------------------
# DIA-NN report + legacy design
# ---------------------------------------------------------------------------

# (DIA-NN accession, canonical name) pairs; 9999 is not in the normalizer's
# table and must pass through unchanged.
_MODS = {"C": (4, "Carbamidomethyl"), "M": (35, "Oxidation"),
         "S": (21, "Phospho"), "N": (7, "Deamidated")}
_NTERM = (1, "Acetyl")
_UNKNOWN = 9999


def _diann_peptidoform(rng: np.random.Generator) -> tuple[str, str, str]:
    """(Modified.Sequence as DIA-NN writes it, the sequence the MSstats table
    must carry, stripped sequence)."""
    stripped = "".join(rng.choice(_RESIDUES, int(rng.integers(7, 20))))
    raw, norm = [], []
    if rng.random() < 0.1:
        raw.append(f"(UniMod:{_NTERM[0]})")
        norm.append(f".({_NTERM[1]})")
    for aa in stripped:
        raw.append(aa)
        norm.append(aa)
        mod = _MODS.get(aa)
        if mod and (aa == "C" or rng.random() < 0.3):
            raw.append(f"(UniMod:{mod[0]})")
            norm.append(f"({mod[1]})")
        elif aa == "K" and rng.random() < 0.05:
            raw.append(f"(UniMod:{_UNKNOWN})")
            norm.append(f"(UniMod:{_UNKNOWN})")
    return "".join(raw), "".join(norm), stripped


def make_diann(rng: np.random.Generator, out: Path) -> DiannInputs:
    """A DIA-NN TSV report (the columns the converter reads plus the usual
    extra columns it must project away) and a legacy two-table design that
    omits DIANN_MISSING_RUNS of the report's runs. About 5% of rows are
    decoys, 5% have zero quantity, and Q.Value straddles the threshold."""
    runs = [f"diann_run{r:03d}" for r in range(DIANN_RUNS)]
    forms = [_diann_peptidoform(rng) for _ in range(DIANN_PEPTIDOFORMS)]
    proteins = [f"PROT{k:04d}_HUMAN" for k in range(DIANN_PEPTIDOFORMS // 4)]
    n = DIANN_ROWS
    pep = rng.integers(0, len(forms), n)
    run = rng.integers(0, len(runs), n)
    charge = rng.integers(1, 5, n)
    quantity = np.round(rng.lognormal(12.0, 1.5, n), 3)
    quantity[rng.random(n) < 0.05] = 0.0
    qvalue = rng.uniform(0.0, 2.0 * QVALUE_THRESHOLD, n)
    decoy = (rng.random(n) < 0.05).astype(int)
    rows = pd.DataFrame({
        "File.Name": [f"/data/{runs[i]}.mzML" for i in run],
        "Run": [runs[i] for i in run],
        "Protein.Group": [proteins[i // 4] for i in pep],
        "Protein.Names": [proteins[i // 4] for i in pep],
        "Genes": [f"GENE{i // 4}" for i in pep],
        "Modified.Sequence": [forms[i][0] for i in pep],
        "Stripped.Sequence": [forms[i][2] for i in pep],
        "Precursor.Id": [f"{forms[i][0]}{c}" for i, c in zip(pep, charge)],
        "Precursor.Charge": charge,
        "Q.Value": qvalue,
        "Precursor.Quantity": quantity,
        "RT": np.round(rng.uniform(1, 120, n), 4),
        "Decoy": decoy,
    })
    report = out / "report.tsv"
    rows.to_csv(report, sep="\t", index=False)

    in_design = runs[: DIANN_RUNS - DIANN_MISSING_RUNS]
    conditions = ["control", "treated", "rescue"]
    design_map = pd.DataFrame({
        "Run": in_design,
        "Sample": [str(k + 1) for k in range(len(in_design))],
        "Condition": [conditions[k % 3] for k in range(len(in_design))],
        "BioReplicate": [str(k // 3 + 1) for k in range(len(in_design))],
    })
    lines = ["Fraction_Group\tFraction\tSpectra_Filepath\tLabel\tSample"]
    for k, r in design_map.iterrows():
        lines.append(f"{k + 1}\t1\t/data/{r['Run']}.mzML\t1\t{r['Sample']}")
    lines += ["", "Sample\tMSstats_Condition\tMSstats_BioReplicate"]
    for _, r in design_map.iterrows():
        lines.append(f"{r['Sample']}\t{r['Condition']}\t{r['BioReplicate']}")
    design = out / "design.tsv"
    design.write_text("\n".join(lines) + "\n")

    rows["expected_sequence"] = [forms[i][1] for i in pep]
    return DiannInputs(str(report), str(design), rows,
                       design_map[["Run", "Condition", "BioReplicate"]],
                       _file_bytes([report, design]))


# ---------------------------------------------------------------------------
# Curation corpus
# ---------------------------------------------------------------------------


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < CORPUS_VOCAB:
        words.add("".join(rng.choice(letters, int(rng.integers(3, 10)))))
    return np.array(sorted(words))


def make_corpus(rng: np.random.Generator, out: Path) -> CorpusInputs:
    """CORPUS_DOCS documents of 30-80 letter words. CORPUS_FAMILY_SHARE of
    them belong to planted families: a seed document plus exact copies
    (re-cased, re-spaced: same content fingerprint) and near copies (a few
    words replaced: high shingle Jaccard)."""
    vocab = _vocabulary(rng)
    n_family_docs = int(CORPUS_DOCS * CORPUS_FAMILY_SHARE)
    docs: list[tuple[str, int]] = []  # (text, family)
    fam = 0
    while len(docs) < n_family_docs:
        words = list(rng.choice(vocab, int(rng.integers(40, 80))))
        docs.append((" ".join(words), fam))
        for _ in range(int(rng.integers(2, 5))):
            if rng.random() < 0.4:
                text = "  ".join(words).upper() if rng.random() < 0.5 else \
                    " ".join(words) + " "
            else:
                edited = list(words)
                for pos in rng.choice(len(edited), 2, replace=False):
                    edited[pos] = str(rng.choice(vocab))
                text = " ".join(edited)
            docs.append((text, fam))
        fam += 1
    while len(docs) < CORPUS_DOCS:
        words = rng.choice(vocab, int(rng.integers(30, 80)))
        docs.append((" ".join(words), -1))
    order = rng.permutation(len(docs))
    frame = pd.DataFrame({
        "doc_id": np.arange(len(docs), dtype=np.int64),
        "text": [docs[i][0] for i in order],
        "source": [CORPUS_SOURCES[k % len(CORPUS_SOURCES)]
                   for k in range(len(docs))],
        "family": [docs[i][1] for i in order],
    })
    path = out / "corpus.parquet"
    frame[["doc_id", "text", "source"]].to_parquet(path, index=False)
    return CorpusInputs(str(path), frame, CORPUS_TOKEN_BUDGET,
                        _file_bytes([path]))
