"""Seeded inputs, YAML projects and independent output oracles.

Every workload is built from ``--seed`` alone into a fresh work
directory: input files, the ``earthmover.yaml`` project and its
templates. The program under test only ever sees those files. Next to
them this module computes, without Spark, what every destination must
contain:

- rendered files (both workloads' ``attendance.jsonl``) are rendered
  with plain ``jinja2`` from the generator's rows (all-string values,
  linearized template) and compared as a digest of the sorted lines;
- ``udf_render``'s ``by_district`` pivot is counted in Python and
  compared as a fingerprint of the parsed rows, with numbers normalized
  the way ``tools/compare.py`` normalizes them.

Nothing here imports pyspark, so the oracle stays independent of the
engine it checks.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re

#: full-size row counts; tests pass a smaller ``scale``
BULK_ROWS = 100_000
UDF_ROWS = 10_000


def _linearize(template: str) -> str:
    """The destination's default ``linearize: true``: whitespace runs in
    the template source collapse to one space."""
    return re.sub(r"\s+", " ", template)


def lines_digest(lines) -> str:
    """md5 of the sorted lines (bytes), each ending in a newline."""
    return hashlib.md5(b"".join(ln + b"\n" for ln in sorted(lines))).hexdigest()


def file_lines(path: str) -> list[bytes]:
    with open(path, "rb") as fh:
        data = fh.read()
    return [ln for ln in data.split(b"\n") if ln]


def norm_value(v) -> str:
    """Value normalization of ``tools/compare.py`` (floats rounded to 9
    places, integral floats printed as ints, NULL marker)."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00NULL"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    return str(v)


def rows_fingerprint(rows: list[tuple], columns: list[str]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return lines_digest(
        "\x01".join(norm_value(r[i]) for i in order).encode() for r in rows
    )


def parse_output_rows(
    path: str, columns: list[str], numeric: list[bool]
) -> tuple[list[tuple], str | None]:
    """Parse a JSON-lines destination (all-string values) back into typed
    rows; returns (rows, error)."""
    rows = []
    for ln in file_lines(path):
        try:
            obj = json.loads(ln)
        except ValueError:
            return [], f"not JSON: {ln[:80]!r}"
        if sorted(obj) != sorted(columns):
            return [], f"columns {sorted(obj)} != {sorted(columns)}"
        row = []
        for c, is_num in zip(columns, numeric):
            s = obj[c]
            if s == "" or s is None:
                row.append(None)
            elif is_num:
                try:
                    row.append(float(s))
                except ValueError:
                    return [], f"{c}={s!r} is not a number"
            else:
                row.append(s)
        rows.append(tuple(row))
    return rows, None


def check_outputs(out_dir: str, expected: dict) -> list[str]:
    """Compare every destination file under ``out_dir`` with its oracle;
    returns one message per mismatch (empty = correct)."""
    errors = []
    for rel, want in sorted(expected.items()):
        path = os.path.join(out_dir, rel)
        if not os.path.exists(path):
            errors.append(f"{rel}: missing")
            continue
        if want["kind"] == "lines":
            lines = file_lines(path)
            got = lines_digest(lines)
            n = len(lines)
        else:
            rows, err = parse_output_rows(path, want["columns"], want["numeric"])
            if err:
                errors.append(f"{rel}: {err}")
                continue
            got = rows_fingerprint(rows, want["columns"])
            n = len(rows)
        if got != want["digest"] or n != want["rows"]:
            errors.append(
                f"{rel}: {n} rows, digest {got} != expected "
                f"{want['rows']} rows, {want['digest']}"
            )
    return errors


# ---------------------------------------------------------------------------
# bulk_render
# ---------------------------------------------------------------------------

_CODES = ["P"] * 14 + ["A", "A", "T", "E"]
_CODE_MAP = {"P": "Present", "A": "Absent", "T": "Tardy", "E": "Excused"}
_GRADES = ["K"] + [str(g) for g in range(1, 13)]
_SUBJECTS = ["MATH", "ELA", "SCI", "SOC", "ART", "PE"]

_BULK_COLUMNS = [
    "student_id", "school_id", "date", "code", "minutes", "session",
    "grade", "section",
]

#: add_columns templates — all lower to native columns
_BULK_ADD = {
    "eventKey": "{{studentUniqueId}}-{{eventDate}}-{{section}}",
    "sessionName": "{{schoolId}} {{session}} 2024",
    "isAbsent": (
        "{% if attendanceEventCategory == 'Absent' %}true"
        "{% else %}false{% endif %}"
    ),
}

_BULK_TEMPLATE = """{
  "studentReference": {"studentUniqueId": "{{studentUniqueId}}"},
  "schoolReference": {"schoolId": "{{schoolId}}"},
  "sessionName": "{{sessionName}}",
  "eventDate": "{{eventDate}}",
  "attendanceEventCategory": "{{attendanceEventCategory}}",
  "absent": {{isAbsent}},
  "minutes": "{{minutes}}",
  "gradeLevel": "{{grade}}",
  "section": "{{section}}",
  "eventKey": "{{eventKey}}"
}
"""

_BULK_YAML = """\
config:
  output_dir: ./output
  state_file: ./runs.csv
sources:
  attendance:
    file: ./attendance.csv
    header_rows: 1
transformations:
  attendance_events:
    source: $sources.attendance
    operations:
      - operation: map_values
        column: code
        mapping: {mapping}
      - operation: rename_columns
        columns:
          student_id: studentUniqueId
          school_id: schoolId
          date: eventDate
          code: attendanceEventCategory
      - operation: add_columns
        columns: {add}
destinations:
  attendance:
    source: $transformations.attendance_events
    template: ./attendance.jsont
    extension: jsonl
"""


def _bulk_rows(seed: int, n: int) -> list[tuple]:
    import numpy as np

    rng = np.random.default_rng(seed)
    students = [f"S{x:07d}" for x in rng.integers(0, 10**7, max(1, n // 40))]
    vocab = [
        students,
        [str(100 + i) for i in range(24)],
        [f"2024-{m:02d}-{d:02d}" for m in (9, 10, 11, 12) for d in range(1, 29)],
        _CODES,
        [str(m) for m in range(0, 421, 5)],
        ["Fall", "Spring"],
        _GRADES,
        [f"{s}-{c:03d}-{k:02d}"
         for s in _SUBJECTS for c in (101, 201, 301) for k in (1, 2, 3)],
    ]
    columns = [
        np.array(v, dtype=object)[rng.integers(0, len(v), n)].tolist()
        for v in vocab
    ]
    return list(zip(*columns))


_EVENT_NAMES = [
    "studentUniqueId", "schoolId", "eventDate", "attendanceEventCategory",
    "minutes", "session", "grade", "section",
]


def _mapped(row: tuple) -> tuple:
    """A generated row after map_values (the rename is the names)."""
    return row[:3] + (_CODE_MAP.get(row[3], row[3]),) + row[4:]


def _render_expected(
    rows: list[tuple], names: list[str], add: dict, template: str
) -> list[bytes]:
    """Render the pipeline with plain jinja2: the add_columns templates
    as ``set`` blocks and the linearized row template, in one loop over
    all rows."""
    import jinja2

    bind = ", ".join(f"{c}=r[{i}]" for i, c in enumerate(names))
    sets = "".join(f"{{% set {k} %}}{v}{{% endset %}}" for k, v in add.items())
    src = (
        "{% for r in rows %}{% with " + bind + " %}" + sets
        + _linearize(template) + "\n{% endwith %}{% endfor %}"
    )
    text = jinja2.Environment().from_string(src).render(rows=rows)
    return [ln.encode() for ln in text.split("\n") if ln]


def _write_csv(path: str, header: list[str], rows) -> None:
    with open(path, "w") as fh:
        fh.write(",".join(header) + "\n")
        fh.write("".join(",".join(r) + "\n" for r in rows))


def _write_project(work: str, yaml_text: str, add: dict) -> None:
    with open(os.path.join(work, "earthmover.yaml"), "w") as fh:
        fh.write(yaml_text.format(
            mapping=json.dumps(_CODE_MAP),
            # inline templates survive the compile-time Jinja pass raw
            add=json.dumps({k: "{%raw%}" + v + "{%endraw%}" for k, v in add.items()}),
        ))


def build_bulk_render(seed: int, work: str, scale: float = 1.0) -> dict:
    rows = _bulk_rows(seed, max(1, int(BULK_ROWS * scale)))
    _write_csv(os.path.join(work, "attendance.csv"), _BULK_COLUMNS, rows)
    with open(os.path.join(work, "attendance.jsont"), "w") as fh:
        fh.write(_BULK_TEMPLATE)
    _write_project(work, _BULK_YAML, _BULK_ADD)
    lines = _render_expected(
        [_mapped(r) for r in rows], _EVENT_NAMES, _BULK_ADD, _BULK_TEMPLATE
    )
    return {
        "config": os.path.join(work, "earthmover.yaml"),
        "input_rows": len(rows),
        "state_file": True,
        "expected": {
            "attendance.jsonl": {
                "kind": "lines", "digest": lines_digest(lines), "rows": len(lines),
            },
        },
    }


# ---------------------------------------------------------------------------
# udf_render
# ---------------------------------------------------------------------------

_DISTRICTS = ["North", "South", "East", "West"]

#: a template the lowering pass rejects, so every row crosses to Python
_UDF_ADD = {"hours": "{{ (minutes|int / 60) | round(2) }}"}

_UDF_TEMPLATE = _BULK_TEMPLATE.replace(
    '  "eventKey"', '  "district": "{{district}}",\n  "hours": "{{hours}}",\n  "eventKey"'
)

_UDF_YAML = """\
config:
  output_dir: ./output
  state_file: ./runs.csv
sources:
  attendance:
    file: ./attendance.csv
    header_rows: 1
  schools:
    file: ./schools.csv
    header_rows: 1
transformations:
  enriched:
    source: $sources.attendance
    operations:
      - operation: map_values
        column: code
        mapping: {mapping}
      - operation: rename_columns
        columns:
          student_id: studentUniqueId
          school_id: schoolId
          date: eventDate
          code: attendanceEventCategory
      - operation: join
        sources: [$sources.schools]
        join_type: inner
        left_key: schoolId
        right_key: school_id
  attendance_events:
    source: $transformations.enriched
    operations:
      - operation: add_columns
        columns: {add}
  by_district:
    source: $transformations.enriched
    operations:
      - operation: group_by
        group_by_columns: [district, attendanceEventCategory]
        create_columns:
          n_events: count()
      - operation: pivot
        rows_by: [district]
        cols_by: attendanceEventCategory
        values: n_events
destinations:
  attendance:
    source: $transformations.attendance_events
    template: ./attendance.jsont
    extension: jsonl
  by_district:
    source: $transformations.by_district
    extension: jsonl
"""


def _district_counts(rows: list[tuple]) -> dict:
    """The by_district pivot: events per district and category."""
    from collections import Counter

    counts = Counter((r[-1], r[3]) for r in rows)
    categories = sorted({c for _, c in counts})
    table = [
        (d, *(counts.get((d, c)) for c in categories))
        for d in sorted({d for d, _ in counts})
    ]
    columns = ["district", *categories]
    return {
        "kind": "rows", "columns": columns,
        "numeric": [False] + [True] * len(categories),
        "digest": rows_fingerprint(table, columns), "rows": len(table),
    }


def build_udf_render(seed: int, work: str, scale: float = 1.0) -> dict:
    rows = _bulk_rows(seed, max(1, int(UDF_ROWS * scale)))
    schools = [(str(100 + i), _DISTRICTS[i % len(_DISTRICTS)]) for i in range(24)]
    _write_csv(os.path.join(work, "attendance.csv"), _BULK_COLUMNS, rows)
    _write_csv(os.path.join(work, "schools.csv"), ["school_id", "district"], schools)
    with open(os.path.join(work, "attendance.jsont"), "w") as fh:
        fh.write(_UDF_TEMPLATE)
    add = {**_BULK_ADD, **_UDF_ADD}
    _write_project(work, _UDF_YAML, add)
    district = dict(schools)
    joined = [_mapped(r) + (district[r[1]],) for r in rows]
    lines = _render_expected(joined, _EVENT_NAMES + ["district"], add, _UDF_TEMPLATE)
    return {
        "config": os.path.join(work, "earthmover.yaml"),
        "input_rows": len(rows),
        "state_file": True,
        "expected": {
            "attendance.jsonl": {
                "kind": "lines", "digest": lines_digest(lines), "rows": len(lines),
            },
            "by_district.jsonl": _district_counts(joined),
        },
    }


WORKLOADS = {"bulk_render": build_bulk_render, "udf_render": build_udf_render}


def build(workload: str, seed: int, work: str, scale: float = 1.0) -> dict:
    os.makedirs(work, exist_ok=True)
    return WORKLOADS[workload](seed, work, scale)
