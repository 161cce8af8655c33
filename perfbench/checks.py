"""Output checks for xena_pipeline: matrices and metadata against the
values the generator computed independently.

Matrices compare with both axes sorted (the `xena-eql` convention):
same row keys, same sample columns, and every cell equal to the
expected value within 1e-6 (empty where no input had that cell).
"""
import csv
import glob
import json
import os
import re


def _part(path):
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    if len(parts) != 1:
        raise ValueError("%s holds %d part files, expected one" % (path, len(parts)))
    return parts[0]


def read_tsv(path):
    with open(_part(path), newline="") as f:
        rows = list(csv.reader(f, delimiter="\t", quotechar='"', escapechar="\\"))
    return rows[0], rows[1:]


def _close(got, want):
    if want is None:
        return got == ""
    try:
        return abs(float(got) - want) <= 1e-6 + 1e-9 * abs(want)
    except ValueError:
        return False


def _canon(v):
    s = str(v)
    try:
        return repr(round(float(s), 5))
    except ValueError:
        return s


def compare_output(path, expected):
    """None when the output at `path` matches `expected`, else a reason."""
    try:
        header, rows = read_tsv(path)
    except (OSError, ValueError, IndexError) as e:
        return "unreadable output: %s" % e
    if expected["kind"] == "matrix":
        if header[0] != expected["key"]:
            return "row key column %r, expected %r" % (header[0], expected["key"])
        if sorted(header[1:]) != expected["columns"]:
            return "sample columns differ (%d vs %d expected)" % (len(header) - 1, len(expected["columns"]))
        keys = sorted(r[0] for r in rows)
        if keys != sorted(expected["rows"]):
            return "row keys differ (%d vs %d expected)" % (len(keys), len(expected["rows"]))
        cells = expected["cells"]
        for r in rows:
            for c, v in zip(header[1:], r[1:]):
                want = cells.get((r[0], c))
                if not _close(v, want):
                    return "cell (%s, %s) is %r, expected %r" % (r[0], c, v, want)
        return None
    cols = expected["columns"]
    missing = [c for c in cols if c not in header]
    if missing:
        return "missing columns %s" % missing
    idx = [header.index(c) for c in cols]
    got = sorted(tuple(_canon(r[i]) for i in idx) for r in rows)
    want = sorted(tuple(_canon(v) for v in row) for row in expected["rows"])
    if got != want:
        diff = next((g, w) for g, w in zip(got + [None] * len(want), want + [None] * len(got)) if g != w)
        return "%d rows vs %d expected; first difference %s" % (len(got), len(want), diff)
    return None


def compare_metadata(path, expected):
    """None when the metadata JSON equals its template's fields; the
    `version` field is the run date and only its MM-dd-yyyy shape is
    checked."""
    try:
        with open(path) as f:
            meta = json.load(f)
    except (OSError, ValueError) as e:
        return "unreadable metadata: %s" % e
    version = meta.pop("version", None)
    if not isinstance(version, str) or not re.fullmatch(r"\d\d-\d\d-\d{4}", version):
        return "version %r is not a MM-dd-yyyy date" % version
    if meta != expected:
        keys = sorted(set(meta) | set(expected))
        return "fields differ: %s" % [k for k in keys if meta.get(k) != expected.get(k)]
    return None


def plant_wrong_cell(path):
    """Self-test: change one numeric cell of a matrix output."""
    part = _part(path)
    with open(part) as f:
        lines = f.read().split("\n")
    fields = lines[1].split("\t")
    fields[1] = repr(float(fields[1] or 0) + 1.0)
    lines[1] = "\t".join(fields)
    with open(part, "w") as f:
        f.write("\n".join(lines))
