"""The four benchmark workloads (BENCHMARK.json gates two of them; see
README.md).

Each workload has
- ``generate(rng, dir, traced)``: seeded input files (see gen.py), plus on
  traced runs the inputs of the layers that have no gated workload;
- ``run(spark, inp, out, tracer)``: the job, from input files to complete
  outputs on disk, through the package's public functions only. On traced
  runs every call into a package module sits in a span;
- ``check(inp, out, state)``: independent numpy/pandas oracles over the
  outputs; raises :class:`CheckFailed`;
- ``layers(spark, inp, work, tracer)``: each layer run in isolation on
  persisted inputs, for the traced run's per-layer metrics. Layer timings
  are spans named after the metric; ``JOB_LAYERS`` names the ones that
  together do the job's work.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen


class CheckFailed(Exception):
    """An output disagrees with the oracle."""


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _close(a, b, what: str, rtol: float = 1e-9) -> None:
    a = np.asarray(a, dtype=float)
    b = np.asarray(b, dtype=float)
    ok = np.isclose(a, b, rtol=rtol, atol=0.0) | (np.isnan(a) & np.isnan(b))
    _expect(bool(ok.all()), f"{what}: {int((~ok).sum())} of {ok.size} differ")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# mzML layers shared by mzml_stats and mzml_features
# ---------------------------------------------------------------------------

FEATURE_MZ_TOL = 0.01


def _spectra_layers(spark, paths: list[str], t):
    """parse_s, read_s and ms_info_s on ``paths``; returns the persisted
    spectra and their counts."""
    from pyspark.sql import functions as F

    from quantms_utils_spark.pipelines.mzml_stats import compute_ms_info
    from quantms_utils_spark.sources.mzml import read_spectra
    from quantms_utils_spark.sources.mzml_xml import parse_mzml_xml

    with t.span("sources.mzml_xml.parse_s"):
        for p in paths:
            parse_mzml_xml(p)
    with t.span("sources.mzml.read_s"):
        spectra = read_spectra(spark, paths, parser="xml").persist()
        n_spectra = spectra.count()
    peaks = spectra.select(F.sum(F.size("mz_array"))).first()[0]
    with t.span("pipelines.mzml_stats.ms_info_s"):
        _noop(compute_ms_info(spectra))
    return spectra, {"sources.mzml.spectra": n_spectra,
                     "sources.mzml.peaks": peaks}


def _implant_matches(implants: pd.DataFrame, feats: pd.DataFrame) -> tuple[int, int]:
    """(implants whose monoisotopic trace came back as a feature spanning the
    implant's apex, implants that also came back with the right charge)."""
    found = charged = 0
    for run, sub in implants.groupby("reference_file_name"):
        f = feats[feats["reference_file_name"] == run]
        for mono, z, rt in zip(sub["mono_mz"], sub["charge"], sub["apex_rt"]):
            hit = ((np.abs(f["feature_mz"] - mono) <= FEATURE_MZ_TOL)
                   & (f["feature_min_rt"] <= rt) & (f["feature_max_rt"] >= rt))
            found += bool(hit.any())
            charged += bool((hit & (f["feature_charge"] == z)).any())
    return found, charged


def _feature_layers(spectra, implants: pd.DataFrame, t):
    """The mass-trace feature finder's stages on persisted spectra; returns
    the persisted isotope-grouped features and the finder's counts."""
    from quantms_utils_spark.pipelines.feature_finder import (
        detect_mass_traces, explode_ms1_peaks, group_isotope_features)

    with t.span("pipelines.feature_finder.explode_s"):
        _noop(explode_ms1_peaks(spectra))
    with t.span("pipelines.feature_finder.mass_traces_s"):
        traces = detect_mass_traces(spectra).persist()
        n_traces = traces.count()
    with t.span("pipelines.feature_finder.isotope_group_s"):
        feats = group_isotope_features(traces).persist()
        n_feats = feats.count()
    got = feats.select("reference_file_name", "feature_mz", "feature_charge",
                       "feature_min_rt", "feature_max_rt").toPandas()
    traces.unpersist()
    return feats, {
        "pipelines.feature_finder.mass_traces": n_traces,
        "pipelines.feature_finder.features": n_feats,
        "pipelines.feature_finder.implant_recall":
            _implant_matches(implants, got)[1] / len(implants),
    }


# ---------------------------------------------------------------------------
# mzml_stats: mzmlstats --ms2_file, then psmconvert against its ms2_info
# ---------------------------------------------------------------------------


class MzmlStats:
    name = "mzml_stats"
    record_kind = "spectra"
    # the isolated layers that together do this job's work
    JOB_LAYERS = ("sources.mzml.read_s", "pipelines.mzml_stats.ms_info_s",
                  "pipelines.mzml_stats.ms2_info_s", "sinks.parquet_write_s",
                  "sources.idxml.read_s", "pipelines.psm.convert_s")

    def generate(self, rng, d: Path, traced: bool):
        inp = gen.make_dda(rng, d)
        inp.records = len(inp.spectra)
        if traced:
            # MS1 runs for the feature-finder layers, which have no
            # benchmark workload of their own (README.md)
            inp.ms1 = gen.make_features(rng, d)
        return inp

    def run(self, spark, inp, out: Path, t) -> None:
        from quantms_utils_spark.pipelines.mzml_stats import write_tables
        from quantms_utils_spark.pipelines.psm import convert_psms
        from quantms_utils_spark.sources.idxml import read_identifications
        from quantms_utils_spark.sources.mzml import read_spectra

        with t.span("sources.mzml.read_spectra"):
            spectra = read_spectra(spark, inp.mzml, parser="xml")
        with t.span("pipelines.mzml_stats.write_tables"):
            tables = write_tables(spectra, str(out), "combined", ms2_file=True)
        with t.span("sources.idxml.read_identifications"):
            ids = read_identifications(spark, inp.idxml, parser="xml")
        with t.span("pipelines.psm.convert_psms"):
            psms = convert_psms(ids, spark.read.parquet(tables["ms2_info"]))
        with t.span("sinks.parquet_write"):
            psms.write.mode("overwrite").parquet(
                str(out / "combined_psm.parquet"), compression="zstd")

    @staticmethod
    def oracle(inp) -> dict:
        s = inp.spectra
        ms_info = pd.DataFrame({
            "reference_file_name": s["reference_file_name"],
            "scan": s["scan"],
            "num_peaks": s["mz_array"].map(len),
            "base_peak_intensity": s["intensity_array"].map(np.max),
            "summed_peak_intensities": s["intensity_array"].map(np.sum),
        })
        # as-of: rt of the closest preceding MS1 of the same run
        ms1_rt = s["rt"].where(s["ms_level"] == 1)
        prev = ms1_rt.groupby(s["reference_file_name"]).transform(
            lambda x: x.ffill().shift(1))
        ms_info["precursor_rt"] = prev.where(s["ms_level"] == 2)
        ms2 = s[s["ms_level"] == 2]
        ms2_keys = set(zip(ms2["reference_file_name"], ms2["scan"].astype(int)))
        psm_keys = list(zip(inp.psms["reference_file_name"],
                            inp.psms["scan_number"]))
        return {
            "ms_info": ms_info,
            "n_ms2": len(ms2_keys),
            "n_psms": len(psm_keys),
            "n_psm_hits": sum(k in ms2_keys for k in psm_keys),
        }

    def check(self, inp, out: Path, state: dict) -> dict:
        if "oracle" not in state:
            state["oracle"] = self.oracle(inp)
        exp = state["oracle"]
        got = pq.read_table(out / "combined_ms_info.parquet", columns=[
            "reference_file_name", "scan", "num_peaks", "base_peak_intensity",
            "summed_peak_intensities", "precursor_rt"]).to_pandas()
        _expect(len(got) == len(exp["ms_info"]),
                f"ms_info rows {len(got)} != {len(exp['ms_info'])}")
        m = exp["ms_info"].merge(got, on=["reference_file_name", "scan"],
                                 suffixes=("", "_got"), validate="1:1")
        _expect(len(m) == len(got), "ms_info keys do not match the input scans")
        _expect(bool((m["num_peaks"] == m["num_peaks_got"]).all()), "num_peaks")
        _close(m["base_peak_intensity_got"], m["base_peak_intensity"],
               "base_peak_intensity")
        _close(m["summed_peak_intensities_got"], m["summed_peak_intensities"],
               "summed_peak_intensities")
        _close(m["precursor_rt_got"], m["precursor_rt"], "precursor_rt")
        n_ms2 = pq.read_table(out / "combined_ms2_info.parquet",
                              columns=["scan"]).num_rows
        _expect(n_ms2 == exp["n_ms2"], f"ms2_info rows {n_ms2} != {exp['n_ms2']}")
        psm = pq.read_table(out / "combined_psm.parquet",
                            columns=["num_peaks"]).to_pandas()
        _expect(len(psm) == exp["n_psms"], f"psm rows {len(psm)} != {exp['n_psms']}")
        hits = int(psm["num_peaks"].notna().sum())
        _expect(hits == exp["n_psm_hits"],
                f"psm peak-join hits {hits} != {exp['n_psm_hits']}")
        return {"pipelines.psm.join_hit_ratio": hits / len(psm)}

    def layers(self, spark, inp, work: Path, t) -> dict:
        from quantms_utils_spark.pipelines.mzml_stats import (
            compute_ms2_info, compute_ms_info)
        from quantms_utils_spark.pipelines.psm import convert_psms
        from quantms_utils_spark.sources.idxml import read_identifications
        from quantms_utils_spark.sources.mzml import read_spectra

        spectra, facts = _spectra_layers(spark, inp.mzml, t)
        with t.span("pipelines.mzml_stats.ms2_info_s"):
            _noop(compute_ms2_info(spectra))
        ms_info = compute_ms_info(spectra).persist()
        ms2 = compute_ms2_info(spectra).persist()
        ms_info.count()
        ms2.count()
        sink = work / "layer_sink"
        with t.span("sinks.parquet_write_s"):
            ms_info.write.mode("overwrite").parquet(
                str(sink / "ms_info.parquet"), compression="zstd")
            ms2.write.mode("overwrite").parquet(
                str(sink / "ms2_info.parquet"), compression="zstd")
        with t.span("sources.idxml.read_s"):
            ids = read_identifications(spark, inp.idxml, parser="xml").persist()
            ids.count()
        ms2_back = spark.read.parquet(str(sink / "ms2_info.parquet"))
        with t.span("pipelines.psm.convert_s"):
            _noop(convert_psms(ids, ms2_back))
        for df in (spectra, ms_info, ms2, ids):
            df.unpersist()

        ms1 = read_spectra(spark, inp.ms1.mzml, parser="xml").persist()
        ms1.count()
        feats, ff = _feature_layers(ms1, inp.ms1.implants, t)
        feats.unpersist()
        ms1.unpersist()
        return {**facts, **ff}


# ---------------------------------------------------------------------------
# mzml_features: mzmlstats --feature_detection (mass-trace finder). Not in
# BENCHMARK.json (one iteration takes about 23 s on 4 CPUs); run it by name.
# ---------------------------------------------------------------------------


class MzmlFeatures:
    name = "mzml_features"
    record_kind = "spectra"
    JOB_LAYERS = ("sources.mzml.read_s", "pipelines.mzml_stats.ms_info_s",
                  "pipelines.feature_finder.mass_traces_s",
                  "pipelines.feature_finder.isotope_group_s",
                  "sinks.parquet_write_s")

    def generate(self, rng, d: Path, traced: bool):
        inp = gen.make_features(rng, d)
        inp.records = len(inp.spectra)
        return inp

    def run(self, spark, inp, out: Path, t) -> None:
        from quantms_utils_spark.pipelines.mzml_stats import write_tables
        from quantms_utils_spark.sources.mzml import read_spectra

        with t.span("sources.mzml.read_spectra"):
            spectra = read_spectra(spark, inp.mzml, parser="xml")
        with t.span("pipelines.mzml_stats.write_tables"):
            write_tables(spectra, str(out), "combined", feature_detection=True,
                         feature_method="masstrace")

    def check(self, inp, out: Path, state: dict) -> dict:
        n = pq.read_table(out / "combined_ms_info.parquet",
                          columns=["scan"]).num_rows
        _expect(n == len(inp.spectra), f"ms_info rows {n} != {len(inp.spectra)}")
        feats = pq.read_table(out / "combined_ms1_feature_info.parquet", columns=[
            "reference_file_name", "feature_mz", "feature_charge",
            "feature_min_rt", "feature_max_rt"]).to_pandas()
        found, charged = _implant_matches(inp.implants, feats)
        n = len(inp.implants)
        _expect(found == n, f"implanted envelopes recovered: {found} of {n}")
        # charge assignment is measured, not gated: see README.md
        return {"pipelines.feature_finder.implant_recall": charged / n}

    def layers(self, spark, inp, work: Path, t) -> dict:
        from quantms_utils_spark.pipelines.mzml_stats import compute_ms_info

        spectra, facts = _spectra_layers(spark, inp.mzml, t)
        feats, ff = _feature_layers(spectra, inp.implants, t)
        ms_info = compute_ms_info(spectra).persist()
        ms_info.count()
        sink = work / "layer_sink"
        # the feature table the pipeline writes is this frame plus a pTIC
        # column, so its sink cost is measured on this frame
        with t.span("sinks.parquet_write_s"):
            ms_info.write.mode("overwrite").parquet(
                str(sink / "ms_info.parquet"), compression="zstd")
            feats.write.mode("overwrite").parquet(
                str(sink / "features.parquet"), compression="zstd")
        for df in (spectra, feats, ms_info):
            df.unpersist()
        return {**facts, **ff}


# ---------------------------------------------------------------------------
# diann_msstats: diann2msstats over a DIA-NN report and a legacy design
# ---------------------------------------------------------------------------


class DiannMsstats:
    name = "diann_msstats"
    record_kind = "report rows"
    JOB_LAYERS = ("sources.report.read_s", "sources.design.read_s",
                  "functions.peptidoform.normalize_s", "operators.joins.join_s",
                  "sinks.csv_write_s")

    def generate(self, rng, d: Path, traced: bool):
        inp = gen.make_diann(rng, d)
        inp.records = len(inp.rows)
        return inp

    def run(self, spark, inp, out: Path, t) -> None:
        from quantms_utils_spark.pipelines.diann2msstats import diann_to_msstats

        with t.span("pipelines.diann2msstats.diann_to_msstats"):
            diann_to_msstats(spark, inp.report, inp.design,
                             gen.QVALUE_THRESHOLD, str(out))

    @staticmethod
    def kept(inp) -> pd.DataFrame:
        r = inp.rows
        return r[(r["Q.Value"] < gen.QVALUE_THRESHOLD) & (r["Decoy"] != 1)
                 & (r["Precursor.Quantity"] != 0)]

    def check(self, inp, out: Path, state: dict) -> dict:
        if "expected" not in state:
            kept = self.kept(inp)
            kept = kept[kept["Run"].isin(set(inp.design_map["Run"]))]
            state["expected"] = Counter(zip(
                kept["Run"], kept["expected_sequence"],
                kept["Precursor.Charge"].astype(str)))
        got = pd.read_csv(out / "design_msstats_in.csv", dtype=str,
                          keep_default_na=False)
        _expect(len(got) == sum(state["expected"].values()),
                f"MSstats rows {len(got)} != {sum(state['expected'].values())}")
        rows = Counter(zip(got["Run"], got["PeptideSequence"],
                           got["PrecursorCharge"]))
        _expect(rows == state["expected"],
                "MSstats (Run, PeptideSequence, PrecursorCharge) multiset differs")
        mapping = got[["Run", "Condition", "BioReplicate"]].drop_duplicates()
        want = inp.design_map[inp.design_map["Run"].isin(set(got["Run"]))]
        m = want.merge(mapping, on="Run", suffixes=("", "_got"))
        _expect(len(m) == len(want) == len(mapping),
                "one (Condition, BioReplicate) per run")
        _expect(bool((m["Condition"] == m["Condition_got"]).all()
                     and (m["BioReplicate"] == m["BioReplicate_got"]).all()),
                "Condition/BioReplicate mapping")
        return {}

    def layers(self, spark, inp, work: Path, t) -> dict:
        return _diann_layers(spark, inp, work, t)


def _diann_layers(spark, inp, work: Path, t) -> dict:
    """diann_to_msstats's stages one at a time on persisted inputs."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast
    from pyspark.sql.types import StringType

    from quantms_utils_spark.functions import sanitize_sequence
    from quantms_utils_spark.functions.peptidoform import normalize_peptidoform
    from quantms_utils_spark.operators.joins import (
        join_many_to_one, unmatched_keys)
    from quantms_utils_spark.sinks import write_single_csv
    from quantms_utils_spark.sources.design import read_experimental_design
    from quantms_utils_spark.sources.report import read_diann_report

    with t.span("sources.report.read_s"):
        report = read_diann_report(spark, inp.report,
                                   gen.QVALUE_THRESHOLD).persist()
        rows_kept = report.count()
    with t.span("sources.design.read_s"):
        s_table, f_table = read_experimental_design(spark, inp.design)
        s_table, f_table = s_table.persist(), f_table.persist()
        s_table.count()
        f_table.count()
    out = report.filter(F.col("Decoy") != 1).select(
        F.col("`Protein.Names`").alias("ProteinName"),
        F.col("`Modified.Sequence`").alias("PeptideSequence"),
        F.col("`Precursor.Charge`").alias("PrecursorCharge"),
        F.col("`Precursor.Quantity`").alias("Intensity"),
        "Run",
    ).filter(F.col("Intensity") != 0).persist()
    n_out = out.count()

    @F.pandas_udf(StringType())
    def normalize(seqs: pd.Series) -> pd.Series:
        return seqs.map(normalize_peptidoform)

    with t.span("functions.peptidoform.normalize_s"):
        _noop(out.withColumn("PeptideSequence", normalize(
            sanitize_sequence(F.col("PeptideSequence")))))
    distinct = out.select(F.countDistinct("PeptideSequence")).first()[0]

    lookup = (
        s_table.select("Sample", "MSstats_Condition", "MSstats_BioReplicate")
        .join(f_table.select("Fraction", "Sample", "run"), "Sample")
        .withColumnsRenamed({"run": "Run", "MSstats_Condition": "Condition",
                             "MSstats_BioReplicate": "BioReplicate"})
        .drop("Sample")
        .persist()
    )
    lookup.count()
    with t.span("operators.joins.join_s"):
        joined = join_many_to_one(out, lookup, ["Run"], how="left")
        _noop(joined)
        unmatched = unmatched_keys(out, lookup, ["Run"]).collect()
    bad = spark.createDataFrame([(r["Run"],) for r in unmatched], "Run string")
    unmatched_rows = out.join(broadcast(bad), "Run").count()
    final = joined.join(broadcast(bad), "Run", "left_anti").persist()
    final.count()
    with t.span("sinks.csv_write_s"):
        write_single_csv(final, work / "layer_sink" / "msstats_in.csv")
    for df in (report, s_table, f_table, out, lookup, final):
        df.unpersist()
    return {
        "sources.report.rows_scanned": len(inp.rows),
        "sources.report.rows_kept": rows_kept,
        "functions.peptidoform.distinct_ratio": distinct / n_out,
        "operators.joins.unmatched_rows": unmatched_rows,
    }


# ---------------------------------------------------------------------------
# corpus_curation: pipelines.curation.curate_corpus
# ---------------------------------------------------------------------------


def _fingerprint(text: str) -> str:
    """content_fingerprint: md5 of lowercased, whitespace-collapsed text."""
    return hashlib.md5(
        re.sub(r"\s+", " ", text.lower()).strip(" ").encode()).hexdigest()


def _bucket(doc_id: int) -> int:
    """mixture_sample's keep bucket: md5(id) first 6 hex digits mod 10000."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:6], 16) % 10_000


class CorpusCuration:
    name = "corpus_curation"
    record_kind = "documents"
    JOB_LAYERS = ("operators.text.quality_exact_s", "operators.dedup.minhash_s",
                  "operators.dedup.lsh_pairs_s", "operators.dedup.cc_s",
                  "operators.text.decontaminate_s", "operators.text.mixture_s")
    N_HASHES = 8
    BAND_SIZE = 2

    def generate(self, rng, d: Path, traced: bool):
        inp = gen.make_corpus(rng, d)
        inp.records = len(inp.docs)
        if traced:
            # DIA-NN inputs for the report/design/peptidoform/join/CSV
            # layers, which have no benchmark workload of their own
            inp.diann = gen.make_diann(rng, d)
        return inp

    def run(self, spark, inp, out: Path, t) -> None:
        from quantms_utils_spark.pipelines.curation import curate_corpus

        docs = spark.read.parquet(inp.docs_path)
        with t.span("pipelines.curation.curate_corpus"):
            curated = curate_corpus(docs, token_budget=inp.token_budget,
                                    n_hashes=self.N_HASHES,
                                    band_size=self.BAND_SIZE,
                                    hash_family="xxhash64")
        with t.span("sinks.parquet_write"):
            curated.write.mode("overwrite").parquet(
                str(out / "curated.parquet"), compression="zstd")

    def check(self, inp, out: Path, state: dict) -> dict:
        got = pq.read_table(out / "curated.parquet").to_pandas()
        _expect(len(got) > 0, "no document survived curation")
        got = got.sort_values("doc_id").reset_index(drop=True)
        docs = inp.docs.set_index("doc_id")
        texts = docs.loc[got["doc_id"], "text"]
        fps = texts.map(_fingerprint)
        _expect(fps.is_unique, "two survivors share a content fingerprint")
        _expect(bool((docs.loc[got["doc_id"], "source"].values
                      == got["source"].values).all()), "source column")
        _expect(bool((texts.map(lambda s: len(s.split())).values
                      == got["doc_tokens"].values).all()), "doc_tokens")
        rate = np.minimum(1.0, inp.token_budget / got["group_tokens"])
        _close(got["keep_rate"], rate.round(6), "keep_rate", rtol=1e-12)
        # keep_rate is rounded to 6 places in the output; allow for it
        buckets = got["doc_id"].map(_bucket)
        _expect(bool((buckets < got["keep_rate"] * 10_000 + 0.01).all()),
                "a survivor's hash bucket is above its source's keep rate")
        kept = got.groupby("source")["doc_tokens"].sum()
        _expect(bool((kept <= 1.35 * inp.token_budget).all()),
                f"per-source kept tokens over budget: {kept.to_dict()}")
        digest = hashlib.sha256(
            pd.util.hash_pandas_object(got, index=False).values.tobytes()
        ).hexdigest()
        _expect(state.setdefault("digest", digest) == digest,
                "curated output differs from the first iteration's")
        return {}

    def layers(self, spark, inp, work: Path, t) -> dict:
        from pyspark.sql import functions as F

        from quantms_utils_spark.operators.dedup import (
            connected_components, lsh_candidate_pairs, minhash_signatures)
        from quantms_utils_spark.operators.text import (
            content_fingerprint, decontaminate, mixture_sample, quality_metrics)
        from quantms_utils_spark.pipelines.curation import split_pct

        # the stage order and glue of curate_corpus, one stage at a time
        docs = spark.read.parquet(inp.docs_path).persist()
        docs.count()
        with t.span("operators.text.quality_exact_s"):
            q = docs.where(quality_metrics(F.col("text"))["keep"])
            ex = (q.groupBy(content_fingerprint(F.col("text")).alias("fp"))
                  .agg(F.min_by(F.struct(*q.columns), F.col("doc_id")).alias("_row"))
                  .select("_row.*").persist())
            ex.count()
        with t.span("operators.dedup.minhash_s"):
            sigs = minhash_signatures(ex, "doc_id", "text",
                                      n_hashes=self.N_HASHES,
                                      hash_family="xxhash64").persist()
            sigs.count()
        with t.span("operators.dedup.lsh_pairs_s"):
            pairs = lsh_candidate_pairs(sigs, "doc_id", n_hashes=self.N_HASHES,
                                        band_size=self.BAND_SIZE).persist()
            n_pairs = pairs.count()
        with t.span("operators.dedup.cc_s"):
            cc = connected_components(pairs, src="doc_a", dst="doc_b").persist()
            cc.count()
        surv = (ex.join(cc.withColumnRenamed("v", "doc_id"), "doc_id", "left")
                .where(F.col("label").isNull() | (F.col("label") == F.col("doc_id")))
                .drop("label").persist())
        surv.count()
        pct = split_pct()
        bench = docs.where(pct >= 90)
        train = surv.where(pct < 80)
        with t.span("operators.text.decontaminate_s"):
            flags = decontaminate(train, bench, "doc_id", "text").persist()
            flags.count()
        clean = train.join(flags.where(~F.col("contaminated")).select("doc_id"),
                           "doc_id").persist()
        clean.count()
        with t.span("operators.text.mixture_s"):
            _noop(mixture_sample(clean, "source", "doc_id", "text",
                                 inp.token_budget))

        # LSH usefulness against the planted families, over the documents
        # that reach the LSH stage
        family = inp.docs.set_index("doc_id")["family"]
        cand = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
        useful = sum(family[a] == family[b] != -1 for a, b in cand)
        members: dict[int, list[int]] = {}
        for (doc_id,) in ex.select("doc_id").collect():
            if family[doc_id] != -1:
                members.setdefault(family[doc_id], []).append(doc_id)
        planted = {(a, b) for ids in members.values() for a in ids for b in ids
                   if a < b}
        for df in (docs, ex, sigs, pairs, cc, surv, flags, clean):
            df.unpersist()
        return {
            **_diann_layers(spark, inp.diann, work, t),
            "operators.dedup.candidate_pairs": n_pairs,
            "operators.dedup.lsh_precision": useful / max(len(cand), 1),
            "operators.dedup.lsh_recall":
                len(planted & cand) / max(len(planted), 1),
        }


WORKLOADS = {w.name: w for w in (MzmlStats(), MzmlFeatures(), DiannMsstats(),
                                 CorpusCuration())}
