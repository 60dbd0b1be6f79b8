"""Distributed idXML PSM ingestion (SURVEY §2.1 S3, §2.10 U4).

One idXML file (= one search run) per partition and per task: the same
range-indexed scan as sources/mzml.py (``sources/filescan.py``,
``spark.range(0, n, 1, n)``, task ``i`` parses ``paths[i]``), parsed inside
mapInPandas to *nested* PSM rows: a peptide identification carries an array
of hits, each hit an array of protein evidences. The relational explode
happens downstream in pipelines/psm.py — so the parser yields data in the
shape the file has, and Catalyst handles the flattening.

Backends mirror sources/mzml.py: ``pyopenms`` (real IdXMLFile parsing,
reference psm_conversion.py:87-93) gated behind import; ``xml`` (pure-Python
parser of the public OpenMS idXML format — real file bytes, no C++);
``synthetic`` generates deterministic identifications whose scan numbers
reference the synthetic mzML spectra of the same stem (same seed
derivation), so the PSM↔spectrum join (J4) is exercised end-to-end without
any input files. ``auto`` = pyopenms > xml (if the file exists) > synthetic.
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from quantms_utils_spark.sources.filescan import scan_files

HIT_SCHEMA = StructType(
    [
        StructField("peptidoform", StringType(), True),
        StructField("charge", IntegerType(), True),
        StructField("score", DoubleType(), True),
        StructField("is_decoy", IntegerType(), True),
        StructField("hit_rank", IntegerType(), True),
        StructField("consensus_support", DoubleType(), True),
        StructField("qvalue_meta", DoubleType(), True),
        StructField("posterior_error_probability", DoubleType(), True),
        StructField("protein_accessions", ArrayType(StringType()), True),
        StructField("protein_start_positions", ArrayType(IntegerType()), True),
        StructField("protein_end_positions", ArrayType(IntegerType()), True),
    ]
)

PSM_ID_SCHEMA = StructType(
    [
        StructField("reference_file_name", StringType(), False),
        StructField("spectrum_reference", StringType(), True),
        StructField("retention_time", DoubleType(), True),
        StructField("exp_mass_to_charge", DoubleType(), True),
        StructField("search_engines", ArrayType(StringType()), True),
        StructField("score_type", StringType(), True),
        StructField("hits", ArrayType(HIT_SCHEMA), True),
    ]
)

try:  # pragma: no cover - environment-dependent
    import pyopenms  # noqa: F401

    HAVE_PYOPENMS = True
except Exception:  # pragma: no cover
    HAVE_PYOPENMS = False

_RESIDUES = "ACDEFGHIKLMNPQRSTVWY"


def _stem_seed(stem: str) -> int:
    return int.from_bytes(hashlib.sha256(stem.encode()).digest()[:4], "big")


def synthetic_identifications(stem: str, n_ids: int = 60) -> pd.DataFrame:
    """Deterministic fake identifications aligned with
    sources.mzml.synthetic_spectra(stem): MS2 scans are 1000+i for i % 4 != 0."""
    rng = np.random.RandomState(_stem_seed(stem) ^ 0x5A5A)
    engines = ["Comet"] if rng.rand() < 0.5 else ["MS-GF+", "Comet"]
    multi = len(engines) > 1
    # ConsensusID runs usually carry a 'q-value' score type after FDR, but
    # not always (reference psm_conversion.py:144-146 gates on it) — vary it
    # deterministically so both branches of the gate are exercised.
    if multi:
        score_type = "q-value" if rng.rand() < 0.7 else "Posterior Error Probability"
    else:
        score_type = "expect" if engines == ["Comet"] else "SpecEValue"
    rows = []
    for _ in range(n_ids):
        i = int(rng.randint(0, 200))
        if i % 4 == 0:
            i += 1  # land on an MS2 index
        scan = 1000 + i
        rt = float(rng.uniform(0, 400))
        mz = float(rng.uniform(300, 1200))
        hits = []
        for rank in range(1, int(rng.randint(1, 4)) + 1):
            seq = "".join(_RESIDUES[j] for j in rng.randint(0, 20, int(rng.randint(6, 15))))
            if rng.rand() < 0.3:
                pos = int(rng.randint(1, len(seq)))
                seq = seq[:pos] + "(Oxidation)" + seq[pos:]
            n_prot = int(rng.randint(1, 3))
            starts = [int(rng.randint(0, 500)) for _ in range(n_prot)]
            hits.append(
                {
                    "peptidoform": seq,
                    "charge": int(rng.randint(1, 5)),
                    "score": float(rng.uniform(0, 1)),
                    "is_decoy": int(rng.rand() < 0.2),
                    "hit_rank": rank,
                    "consensus_support": float(rng.uniform(0, 1)) if multi else None,
                    "qvalue_meta": float(rng.uniform(0, 0.05)) if rng.rand() < 0.5 else None,
                    "posterior_error_probability": float(rng.uniform(0, 1)),
                    "protein_accessions": [f"P{rng.randint(10000, 99999)}" for _ in range(n_prot)],
                    "protein_start_positions": starts,
                    "protein_end_positions": [s + 10 for s in starts],
                }
            )
        rows.append(
            (
                stem,
                f"controllerType=0 controllerNumber=1 scan={scan}",
                rt,
                mz,
                engines,
                score_type,
                hits,
            )
        )
    return pd.DataFrame(rows, columns=[f.name for f in PSM_ID_SCHEMA.fields])


def read_identifications(
    spark: SparkSession,
    paths: Sequence[str],
    parser: str = "auto",
) -> DataFrame:
    """Nested identifications DataFrame: a range-indexed scan
    (``sources.filescan.scan_files``) where task ``i`` parses ``paths[i]``,
    so there is exactly one partition, and one task, per idXML file."""
    if parser == "auto":
        if HAVE_PYOPENMS:  # pragma: no cover - needs pyopenms
            parser = "pyopenms"
        else:
            parser = "xml" if paths and Path(paths[0]).exists() else "synthetic"
    if parser not in ("pyopenms", "xml", "synthetic"):
        raise ValueError(f"unknown parser {parser!r}")
    if parser == "pyopenms" and not HAVE_PYOPENMS:  # pragma: no cover
        raise NotImplementedError(
            "pyopenms is not importable; use parser='xml' (pure-Python idXML "
            "parsing) or 'synthetic'"
        )

    def parse_one(path: str) -> pd.DataFrame:
        if parser == "pyopenms":  # pragma: no cover - needs pyopenms
            return _parse_pyopenms_idxml(path)
        if parser == "xml":
            return _parse_xml_idxml(path)
        return synthetic_identifications(Path(path).name.split(".")[0])

    return scan_files(spark, paths, parse_one, PSM_ID_SCHEMA)


def _parse_xml_idxml(path: str) -> pd.DataFrame:
    """Pure-Python parse of the public OpenMS idXML format.

    Produces the same nested frame as ``_parse_pyopenms_idxml`` (reference
    psm_conversion.py:87-108): engine detection from the ConsensusID
    SearchParameters SE:* user params, run stem from the spectra_data
    protein-identification param, one row per PeptideIdentification with its
    hits nested. Hit rank is the 1-based position in file order (idXML does
    not store ranks; OpenMS keeps hits sorted best-first).

    Memory profile: a full-document parse (idXML's SearchParameters come
    before the runs that reference them, and files are identification
    lists, typically MBs — not the multi-GB peak data mzML holds, which is
    why the mzML twin streams via iterparse and this one deliberately does
    not). The expat second parser (`idxml_datasource`) is the
    producer-independent cross-check.
    """
    from xml.etree.ElementTree import parse as etree_parse

    root = etree_parse(path).getroot()

    # SearchParameters id -> set of UserParam names (for SE:* detection)
    search_params: dict[str, set[str]] = {}
    for sp in root.iter("SearchParameters"):
        search_params[sp.get("id", "")] = {
            up.get("name", "") for up in sp if up.tag == "UserParam"
        }

    prot_elems = list(root.iter("ProteinIdentification"))
    if not prot_elems:
        raise ValueError(f"No protein identification entries found in {path}")

    rows = []
    for run in root.iter("IdentificationRun"):
        engine = run.get("search_engine", "")
        params = search_params.get(run.get("search_parameters_ref", ""), set())
        if "ConsensusID" in engine:
            engines = [
                e
                for e, key in (
                    ("MS-GF+", "SE:MS-GF+"),
                    ("Comet", "SE:Comet"),
                    ("Sage", "SE:Sage"),
                )
                if key in params
            ]
        else:
            engines = [engine]

        prot = run.find("ProteinIdentification")
        if prot is None:
            continue
        # accession lookup for PeptideHit protein_refs
        accession = {
            ph.get("id", ""): ph.get("accession", "")
            for ph in prot.iter("ProteinHit")
        }
        spectra_data = None
        for up in prot.iter("UserParam"):
            if up.get("name") == "spectra_data":
                spectra_data = up.get("value", "").strip("[]").split(",")[0].strip()
        if spectra_data is None:
            raise ValueError(f"No spectra_data entry found in {path}")
        # Stem derivation MUST match sources/mzml.py (see _parse_pyopenms_idxml)
        ref = Path(spectra_data).name.split(".")[0]

        for pid in run.iter("PeptideIdentification"):
            hits = []
            for rank, hit in enumerate(pid.iter("PeptideHit"), start=1):
                meta = {
                    up.get("name"): up.get("value")
                    for up in hit.iter("UserParam")
                }
                refs = (hit.get("protein_refs") or "").split()
                starts = [int(v) for v in (hit.get("start") or "").split()]
                ends = [int(v) for v in (hit.get("end") or "").split()]
                qvalue = meta.get("MS:1001491", meta.get("q-value"))
                pep = meta.get("Posterior Error Probability_score")
                support = meta.get("consensus_support")
                hits.append(
                    {
                        "peptidoform": hit.get("sequence"),
                        "charge": int(hit.get("charge", "0")),
                        "score": float(hit.get("score", "nan")),
                        "is_decoy": 0 if meta.get("target_decoy") == "target" else 1,
                        "hit_rank": rank,
                        "consensus_support": float(support)
                        if support is not None
                        else None,
                        "qvalue_meta": float(qvalue) if qvalue is not None else None,
                        "posterior_error_probability": float(pep)
                        if pep is not None
                        else None,
                        "protein_accessions": [accession.get(r, r) for r in refs],
                        "protein_start_positions": starts,
                        "protein_end_positions": ends,
                    }
                )
            rows.append(
                (
                    ref,
                    pid.get("spectrum_reference"),
                    float(pid.get("RT", "nan")),
                    float(pid.get("MZ", "nan")),
                    engines,
                    pid.get("score_type"),
                    hits,
                )
            )
    return pd.DataFrame(rows, columns=[f.name for f in PSM_ID_SCHEMA.fields])


def _parse_pyopenms_idxml(path: str) -> pd.DataFrame:  # pragma: no cover
    """Real idXML parse (reference psm_conversion.py:87-108)."""
    import pyopenms as oms

    prot_ids = []
    pep_ids = []
    oms.IdXMLFile().load(path, prot_ids, pep_ids)
    if not prot_ids:
        raise ValueError(f"No protein identification entries found in {path}")
    params = prot_ids[0].getSearchParameters()
    if "ConsensusID" in prot_ids[0].getSearchEngine():
        engines = [
            e
            for e, key in (("MS-GF+", "SE:MS-GF+"), ("Comet", "SE:Comet"), ("Sage", "SE:Sage"))
            if params.metaValueExists(key)
        ]
    else:
        engines = [prot_ids[0].getSearchEngine()]
    # Stem derivation MUST match sources/mzml.py (`Path(p).name.split('.')[0]`)
    # — the PSM↔spectrum join keys on reference_file_name equality, and
    # os.path.splitext would keep the directory and only one extension
    # ('/data/run.mzML' -> '/data/run' vs the mzML side's 'run'), silently
    # joining zero peak rows.
    spectra_path = prot_ids[0].getMetaValue("spectra_data")[0].decode("UTF-8")
    ref = Path(spectra_path).name.split(".")[0]
    rows = []
    for pid in pep_ids:
        hits = []
        for hit in pid.getHits():
            evs = hit.getPeptideEvidences()
            hits.append(
                {
                    "peptidoform": hit.getSequence().toString(),
                    "charge": hit.getCharge(),
                    "score": float(hit.getScore()),
                    "is_decoy": 0 if hit.getMetaValue("target_decoy") == "target" else 1,
                    "hit_rank": hit.getRank(),
                    "consensus_support": hit.getMetaValue("consensus_support"),
                    "qvalue_meta": hit.getMetaValue("MS:1001491")
                    if hit.metaValueExists("MS:1001491")
                    else (hit.getMetaValue("q-value") if hit.metaValueExists("q-value") else None),
                    "posterior_error_probability": hit.getMetaValue(
                        "Posterior Error Probability_score"
                    ),
                    "protein_accessions": [e.getProteinAccession() for e in evs],
                    "protein_start_positions": [e.getStart() for e in evs],
                    "protein_end_positions": [e.getEnd() for e in evs],
                }
            )
        rows.append(
            (
                ref,
                pid.getMetaValue("spectrum_reference"),
                float(pid.getRT()),
                float(pid.getMZ()),
                engines,
                pid.getScoreType(),
                hits,
            )
        )
    return pd.DataFrame(rows, columns=[f.name for f in PSM_ID_SCHEMA.fields])
