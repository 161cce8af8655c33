"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, and the expected outputs the checks compare
against are computed here, independently of the program under test.

- `gdc_tree`: a synthetic GDC raw download tree (cohorts x dtypes) in
  the raw-file formats `graft.transform` reads, plus the expected
  Xena matrices (replicate mean, log2(x+1) rounded to 6 dp, full-outer
  sample union) and metadata fields.
- `tables`: the ten parquet tables `graft.model.Tables` loads, in the
  shapes the query registry was written against.
- `landing`: micro-batches dropped into the monitor streams' landing
  directories.
"""
import json
import math
import os
import random
import uuid
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------
# GDC raw tree
# ---------------------------------------------------------------------

# Sizes of one cohort. star_counts is the tall dtype, protein the wide
# one (more sample columns than probe rows), segment_cnv the long one.
GDC_SIZES = {
    "cohorts": 2,
    "star_samples": 16, "star_replicated": 2, "star_genes": 3000, "star_private_genes": 300,
    "protein_samples": 96, "protein_targets": 40, "protein_private_targets": 6,
    "meth_samples": 12, "meth_probes": 1500,
    "seg_samples": 20, "seg_segments": 30,
    "cases": 20,
}

MERGED_DTYPES = ["protein"]
GDC_DTYPES = ["star_counts", "protein", "methylation450", "segment_cnv_DNAcopy",
              "clinical", "survival"]
STAR_SENTINELS = ["N_unmapped", "N_multimapping", "N_noFeature", "N_ambiguous"]


def _uuid(rng):
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        f.write(text)


def _fmt(x):
    return repr(float(x))


def cohort_names(n):
    return ["TCGA-B%s" % chr(ord("A") + i) for i in range(n)]


def gdc_tree(root, seed, sizes=GDC_SIZES):
    """Write the raw tree under `root/<project>/<dtype>/` and return the
    expected outputs: per (project, dtype) matrices and per merged dtype
    the merged matrix, each as {"key", "columns", "cells"} or rows."""
    rng = random.Random(seed)
    z = sizes
    projects = cohort_names(z["cohorts"])
    expected = {"projects": projects, "etl": {}, "merged": {}}
    shared_genes = ["ENSG%011d.%d" % (i, i % 10) for i in range(z["star_genes"] - z["star_private_genes"])]
    shared_targets = ["PEP_%03d" % i for i in range(z["protein_targets"] - z["protein_private_targets"])]
    for pi, proj in enumerate(projects):
        base = os.path.join(root, proj)
        genes = shared_genes + ["ENSG9%02d%08d.1" % (pi, i) for i in range(z["star_private_genes"])]
        targets = shared_targets + ["PEP_P%d_%02d" % (pi, i) for i in range(z["protein_private_targets"])]
        expected["etl"][(proj, "star_counts")] = _star(base, proj, rng, genes, z)
        expected["etl"][(proj, "protein")] = _protein(base, proj, rng, targets, z)
        expected["etl"][(proj, "methylation450")] = _methylation(base, proj, rng, z)
        expected["etl"][(proj, "segment_cnv_DNAcopy")] = _segments(base, proj, rng, z)
        clin, surv = _clinical_survival(base, proj, rng, z)
        expected["etl"][(proj, "clinical")] = clin
        expected["etl"][(proj, "survival")] = surv
    for d in MERGED_DTYPES:
        parts = [expected["etl"][(p, d)] for p in projects]
        expected["merged"][d] = merge_horizontal(parts) if d != "segment_cnv_DNAcopy" \
            else {"kind": "rows", "columns": parts[0]["columns"],
                  "rows": sorted(r for p in parts for r in p["rows"])}
    return expected


def merge_horizontal(parts):
    """Full-outer union of wide matrices: row keys and sample columns
    both union; a cell absent from every part stays empty."""
    cells = {}
    for p in parts:
        cells.update(p["cells"])
    return {"kind": "matrix", "key": parts[0]["key"],
            "rows": sorted({r for p in parts for r in p["rows"]}),
            "columns": sorted({c for p in parts for c in p["columns"]}),
            "cells": cells}


def _star(base, proj, rng, genes, z):
    header = ["gene_id", "gene_name", "gene_type", "unstranded", "stranded_first",
              "stranded_second", "tpm_unstranded", "fpkm_unstranded", "fpkm_uq_unstranded"]
    samples = ["%s-%04d-01A" % (proj, i) for i in range(z["star_samples"])]
    files = [(s, 0) for s in samples] + [(s, 1) for s in samples[:z["star_replicated"]]]
    sums = {}
    for sid, rep in files:
        lines = ["# gene-model: GENCODE v36", "\t".join(header)]
        for srow in STAR_SENTINELS:
            lines.append("\t".join([srow, "", ""] + [str(rng.randrange(10 ** 6))] * 6))
        for gi, g in enumerate(genes):
            count = int(rng.expovariate(1 / 300.0)) if rng.random() > 0.1 else 0
            sums.setdefault((g, sid), []).append(count)
            lines.append("\t".join([g, "G%d" % gi, "protein_coding", str(count), str(count + 1),
                                    str(count + 2), "%.4f" % (count / 3.0), "%.4f" % (count / 7.0),
                                    "%.4f" % (count / 11.0)]))
        name = "%s.%s.rna_seq.augmented_star_gene_counts.tsv" % (sid, _uuid(rng))
        _write(os.path.join(base, "star_counts", name), "\n".join(lines) + "\n")
    cells = {k: round(math.log2(float(Decimal(sum(v)) / len(v)) + 1.0), 6) for k, v in sums.items()}
    return {"kind": "matrix", "key": "Ensembl_ID", "rows": sorted(genes),
            "columns": sorted(samples), "cells": cells}


def _protein(base, proj, rng, targets, z):
    header = ["AGID", "lab_id", "catalog_number", "set_id", "peptide_target", "protein_expression"]
    samples = ["%s-%04d-01A" % (proj, i) for i in range(z["protein_samples"])]
    cells = {}
    for sid in samples:
        lines = ["\t".join(header)]
        for ti, t in enumerate(targets):
            v = round(rng.gauss(0.0, 1.2), 4)
            cells[(t, sid)] = v
            lines.append("\t".join(["AGID%05d" % ti, "lab%d" % ti, "cat%d" % ti, "set%d" % ti, t, _fmt(v)]))
        name = "%s.%s.protein_expression.tsv" % (sid, _uuid(rng))
        _write(os.path.join(base, "protein", name), "\n".join(lines) + "\n")
    return {"kind": "matrix", "key": "peptide_target", "rows": sorted(targets),
            "columns": sorted(samples), "cells": cells}


def _methylation(base, proj, rng, z):
    samples = ["%s-%04d-01A" % (proj, i) for i in range(z["meth_samples"])]
    probes = ["cg%08d" % i for i in range(z["meth_probes"])]
    cells = {}
    for sid in samples:
        lines = []
        for cg in probes:
            v = round(rng.random(), 4)
            cells[(cg, sid)] = v
            lines.append("%s\t%s" % (cg, _fmt(v)))
        name = "%s.%s.methylation_array.sesame.level3betas.txt" % (sid, _uuid(rng))
        _write(os.path.join(base, "methylation450", name), "\n".join(lines) + "\n")
    return {"kind": "matrix", "key": "Composite Element REF", "rows": probes,
            "columns": sorted(samples), "cells": cells}


def _segments(base, proj, rng, z):
    header = ["GDC_Aliquot", "Chromosome", "Start", "End", "Num_Probes", "Segment_Mean"]
    rows = []
    for i in range(z["seg_samples"]):
        sid = "%s-%04d-01A" % (proj, i)
        lines = ["\t".join(header)]
        pos = 1
        for si in range(z["seg_segments"]):
            chrom = "chr%d" % (si % 22 + 1)
            start = pos + rng.randrange(1000)
            end = start + rng.randrange(10 ** 4, 10 ** 6)
            pos = end
            v = round(rng.gauss(0.0, 0.4), 4)
            rows.append((sid, chrom, start, end, v))
            lines.append("\t".join(["aliquot-%d" % i, chrom, str(start), str(end),
                                    str(rng.randrange(10, 500)), _fmt(v)]))
        name = "%s.%s.grch38.seg.v2.txt" % (sid, _uuid(rng))
        _write(os.path.join(base, "segment_cnv_DNAcopy", name), "\n".join(lines) + "\n")
    return {"kind": "rows", "columns": ["sample", "Chrom", "Start", "End", "value"], "rows": sorted(rows)}


def _clinical_survival(base, proj, rng, z):
    cases, surv_lines, case_samples = [], [], []
    clin_rows, surv_rows = [], []
    surv_lines.append("\t".join(["id", "project_id", "survivalEstimate", "censored", "time", "submitter_id"]))
    for ci in range(z["cases"]):
        cid = _uuid(rng)
        patient = "%s-P%04d" % (proj, ci)
        gender = rng.choice(["female", "male"])
        ages = [rng.randrange(8000, 30000) for _ in range(rng.randrange(0, 3))]
        agents = sorted(rng.choice(["Tamoxifen", "Cisplatin", "Temozolomide", "Carboplatin"])
                        for _ in range(rng.randrange(0, 3)))
        samples = ["%s-S%04d-%02dA" % (proj, ci, k) for k in range(1 + rng.randrange(2))]
        diagnoses = [{"age_at_diagnosis": str(a), "tumor_grade": "G%d" % rng.randrange(1, 4),
                      "treatments": [{"therapeutic_agents": ag, "treatment_type": "Chemo"} for ag in agents] if k == 0 else [],
                      "pathology_details": []} for k, a in enumerate(ages)]
        cases.append({"id": cid, "submitter_id": patient, "disease_type": "Adenomas",
                      "project": {"project_id": proj},
                      "demographic": {"gender": gender, "vital_status": rng.choice(["Alive", "Dead"]),
                                      "year_of_birth": rng.randrange(1930, 1990)},
                      "state": "released", "created_datetime": "2020-01-01",
                      "annotations": [], "diagnoses": diagnoses,
                      "samples": [{"submitter_id": s, "sample_type": "Primary Tumor", "tissue_type": "Tumor"}
                                  for s in samples]})
        age_years = "" if not ages else repr(round(min(ages) / 365.0, 6))
        agents_cell = "; ".join(agents) if diagnoses else ""
        for s in samples:
            clin_rows.append((s, gender, proj, age_years, agents_cell))
        censored = rng.random() < 0.5
        time = rng.randrange(10, 4000)
        surv_lines.append("\t".join([cid, proj, "%.3f" % rng.random(), "true" if censored else "false",
                                     str(time), patient]))
        case_samples.append({"id": cid, "samples": [{"submitter_id": s, "sample_type": "Primary Tumor"}
                                                    for s in samples]})
        for s in samples:
            surv_rows.append((s, "0" if censored else "1", str(time), patient))
    _write(os.path.join(base, "clinical", "cases.json"),
           "\n".join(json.dumps(c, sort_keys=True) for c in cases) + "\n")
    _write(os.path.join(base, "survival", "survival.tsv"), "\n".join(surv_lines) + "\n")
    _write(os.path.join(base, "survival", "case_samples.json"),
           "\n".join(json.dumps(c, sort_keys=True) for c in case_samples) + "\n")
    clin = {"kind": "rows",
            "columns": ["sample", "gender.demographic", "project_id.project",
                        "age_at_earliest_diagnosis_in_years.diagnoses.xena_derived",
                        "therapeutic_agents.treatments.diagnoses"],
            "rows": sorted(clin_rows)}
    surv = {"kind": "rows", "columns": ["sample", "OS", "OS.time", "_PATIENT"], "rows": sorted(surv_rows)}
    return clin, surv


# Metadata fields the Xena templates fix per dtype; `version` is the
# run date and is checked only for its MM-dd-yyyy shape.
def expected_metadata(dtype, cohort):
    url = "https://api.gdc.cancer.gov/data/"
    common = {"cohort": cohort, "dataProducer": "Genomic Data Commons",
              "wrangler": "Xena GDC ETL script"}
    if dtype == "star_counts":
        return dict(common, label="STAR - Counts", url=url, dataSubType="gene expression RNAseq",
                    **{":probeMap": "gencode.v36.annotation.gtf.gene.probemap"},
                    colNormalization=True, PLATFORM="Illumina", type="genomicMatrix",
                    unit="log2(count+1)")
    if dtype == "protein":
        return dict(common, label="Protein Expression Quantification", url=url,
                    dataSubType="protein expression", colNormalization=True, PLATFORM="rppa",
                    type="genomicMatrix", unit="normalized RPPA value")
    if dtype == "segment_cnv_DNAcopy":
        return dict(common, label="Copy Number Segment (DNAcopy)", start_index=1, url=url,
                    dataSubType="copy number", colNormalization="normal2", assembly="hg38",
                    type="genomicSegment", unit="copy number")
    raise KeyError(dtype)


# ---------------------------------------------------------------------
# Parquet tables
# ---------------------------------------------------------------------

TABLE_SIZES = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
               "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500}
WORDS = ("scan column window order sort part agg value line key join merge group query a "
         "vector hash slow stream filter fast the batch spark table small data big customer row").split()
LANGS = (["en"] * 39 + ["fr"] * 16 + ["es"] * 16 + ["zh"] * 15 + ["de"] * 14)
EPOCH_1995 = 788918400  # 1995-01-01T00:00:00Z
EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z


def _day_ts(days):
    return np.array([(EPOCH_1995 + 86400 * int(d)) * 10 ** 6 for d in days], dtype="datetime64[us]")


def tables(out, seed, sizes=TABLE_SIZES):
    """Write `<out>/<table>.parquet` for every table of graft.model.Tables."""
    os.makedirs(out, exist_ok=True)
    r = np.random.default_rng(seed)
    n = sizes

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"), compression="snappy")

    save("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": ["NATION_%d" % i for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    save("customer", {"c_custkey": pa.array(range(nc), pa.int64()),
                      "c_name": ["Customer#%09d" % i for i in range(nc)],
                      "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
                      "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
                      "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                                "MACHINERY"], nc).tolist()})
    ns = n["supplier"]
    save("supplier", {"s_suppkey": pa.array(range(ns), pa.int64()),
                      "s_name": ["Supplier#%09d" % i for i in range(ns)],
                      "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
                      "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2)})
    npart = n["part"]
    adj = ["cold", "small", "large", "shiny", "red", "green", "blue", "old"]
    noun = ["widget", "bolt", "gear", "nut", "screw", "spring", "valve", "pin"]
    save("part", {"p_partkey": pa.array(range(npart), pa.int64()),
                  "p_name": ["%s %s" % (adj[a], noun[b]) for a, b in
                             zip(r.integers(0, 8, npart), r.integers(0, 8, npart))],
                  "p_brand": ["Brand#%d" % b for b in r.integers(1, 26, npart)],
                  "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                                     npart).tolist(),
                  "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
                  "p_retailprice": [round(900.0 + (i % 200) / 10.0, 2) for i in range(npart)]})
    no = n["orders"]
    save("orders", {"o_orderkey": pa.array(range(no), pa.int64()),
                    "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
                    "o_orderstatus": r.choice(["F", "O", "P"], no).tolist(),
                    "o_totalprice": np.round(r.uniform(1000.0, 500000.0, no), 2),
                    "o_orderdate": _day_ts(r.integers(0, 2404, no)),
                    "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                                 "5-LOW"], no).tolist()})
    nl = n["lineitem"]
    qty = r.integers(1, 51, nl).astype(float)
    save("lineitem", {"l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
                      "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
                      "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
                      "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
                      "l_quantity": qty,
                      "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, nl), 2),
                      "l_discount": np.round(r.integers(0, 11, nl) / 100.0, 2),
                      "l_tax": np.round(r.integers(0, 9, nl) / 100.0, 2),
                      "l_returnflag": r.choice(["A", "N", "R"], nl).tolist(),
                      "l_linestatus": r.choice(["F", "O"], nl).tolist(),
                      "l_shipdate": _day_ts(r.integers(1, 2500, nl))})
    ne = n["events"]
    offs = np.sort(r.integers(0, 30 * 86400 * 10 ** 6, ne))
    save("events", {"event_id": pa.array(range(ne), pa.int64()),
                    "ts": np.array([EPOCH_2024 * 10 ** 6 + int(o) for o in offs], dtype="datetime64[us]"),
                    "user_id": pa.array(r.integers(0, 15, ne), pa.int64()),
                    "event_type": r.choice(["click", "error", "purchase", "signup", "view"], ne).tolist(),
                    "value": np.round(r.exponential(60.0, ne), 2),
                    "props": ['{"k": %d}' % k for k in r.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS, int(r.integers(10, 100))).tolist()))
    save("documents", {"doc_id": pa.array(range(nd), pa.int64()), "text": texts,
                       "lang": [LANGS[int(k)] for k in r.integers(0, len(LANGS), nd)],
                       "source": ["src%d" % (i % 20) for i in range(nd)],
                       "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv, dim = n["embeddings"], 64
    labels = r.integers(0, 10, nv)
    centers = r.normal(0.0, 1.0, (10, dim))
    vec = centers[labels] * 0.15 + r.normal(0.0, 1.0, (nv, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", {"vec_id": pa.array(range(nv), pa.int64()),
                        "embedding": pa.array(vec.tolist(), pa.list_(pa.float32())),
                        "label": pa.array(labels, pa.int32())})


# ---------------------------------------------------------------------
# Landing micro-batches for the monitor streams
# ---------------------------------------------------------------------

STREAMS = ["posting", "hll", "cms", "psi", "tok", "langid", "drift"]


def landing(out, seed, docs_per_file=40, files=2):
    """One landing directory per monitor stream, `files` parquet drops
    each. Text drops carry (doc_id, text, lang, source, n_chars); the psi
    drop carries the monitored `norm` values. Returns rows per stream."""
    r = np.random.default_rng(seed)
    rows = {}
    for s in STREAMS:
        d = os.path.join(out, s)
        os.makedirs(d, exist_ok=True)
        rows[s] = 0
        for f in range(files):
            n = docs_per_file
            if s == "psi":
                cols = {"vec_id": pa.array(range(10 ** 6 + f * n, 10 ** 6 + (f + 1) * n), pa.int64()),
                        "norm": np.round(r.uniform(0.5, 1.5, n), 6)}
            else:
                texts = [" ".join(r.choice(WORDS + ["nw%d" % k for k in range(8)],
                                           int(r.integers(10, 60))).tolist()) for _ in range(n)]
                cols = {"doc_id": pa.array(range(10 ** 6 + f * n, 10 ** 6 + (f + 1) * n), pa.int64()),
                        "text": texts,
                        "lang": [LANGS[int(k)] for k in r.integers(0, len(LANGS), n)],
                        "source": ["src%d" % (k % 20) for k in range(n)],
                        "n_chars": pa.array([len(t) for t in texts], pa.int64())}
            pq.write_table(pa.table(cols), os.path.join(d, "drop-%03d.parquet" % f), compression="snappy")
            rows[s] += n
    return rows


def tree_digest(root):
    """sha256 over every file path and byte under `root` (sorted)."""
    import hashlib
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
