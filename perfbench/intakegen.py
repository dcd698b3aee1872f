"""Seeded landing batches for the intake workload, with the audit each
file must receive.

A batch holds seven clean CSVs (``,`` ``;`` ``\\t`` ``|`` delimiters,
one with quoted free text from ``documents``), one XLSX written with
``xlsx_lite.write_xlsx``, and one rejected file of each kind: a row
with an extra field mid-file, a duplicate header, a blank header, an
unsupported extension and a CSV over ``max_file_mb``. The seed picks
the rows of every file and which clean file gets which delimiter; the
file count, row counts and so the batch size stay fixed.
"""

from __future__ import annotations

import io
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as csv
import pyarrow.parquet as pq

from free_etl_spark.intake.xlsx_lite import write_xlsx

DELIMS = [",", ";", "\t", "|"]
# (source table, rows) of the seven clean CSVs
CLEAN = [
    ("lineitem", 90_000),
    ("orders", 120_000),
    ("events", 90_000),
    ("customer", 15_000),
    ("documents", 4_500),
    ("lineitem", 90_000),
    ("events", 90_000),
]
XLSX_ROWS = 1_500
REJECT_ROWS = 5_000
MAX_FILE_MB = 8


@dataclass(frozen=True)
class Expected:
    """The audit one landing file must receive."""

    name: str
    acceptable: bool
    first_issue: str  # exact issue, or a prefix when it ends with "…"
    rows: int
    in_bytes: int

    def mismatch(self, acceptable: bool, issues: list[str], rows: int) -> str | None:
        first = issues[0] if issues else ""
        want = self.first_issue
        ok_issue = first.startswith(want[:-1]) if want.endswith("…") else first == want
        if acceptable != self.acceptable or not ok_issue or rows != self.rows:
            return (
                f"{self.name}: got acceptable={acceptable} rows={rows} "
                f"issue={first[:80]!r}; want acceptable={self.acceptable} "
                f"rows={self.rows} issue={want!r}"
            )
        return None


class BatchMaker:
    """Builds landing batches from one generated table directory.

    ``scale`` multiplies every row count; the size limit scales with
    it, so the oversize file stays just over the limit."""

    def __init__(self, sf_dir: str, scale: float = 1.0) -> None:
        self.scale = scale
        self.max_file_mb = max(1, round(MAX_FILE_MB * scale))
        self.src = {
            t: pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
            for t in ("lineitem", "orders", "events", "customer", "documents")
        }
        docs = self.src["documents"].drop_columns(["n_chars"])
        # free text that needs quoting under every delimiter
        text = pc.replace_substring(docs["text"], " the ", ', "the" ', max_replacements=1)
        self.src["documents"] = docs.set_column(1, "text", text)
        # lineitem rows that make a CSV 10% over the size limit
        sample = io.BytesIO()
        csv.write_csv(self.src["lineitem"].slice(0, 1000), sample)
        self.oversize_rows = int(1.1 * self.max_file_mb * 1024 * 1024 / (len(sample.getvalue()) / 1000))

    def _rows(self, rng: np.random.Generator, table: str, n: int, scaled=True) -> pa.Table:
        t = self.src[table]
        n = min(round(n * self.scale) if scaled else n, t.num_rows)
        return t.slice(int(rng.integers(0, t.num_rows - n + 1)), n)

    @staticmethod
    def _write_csv(path: str, t: pa.Table, sep: str) -> int:
        csv.write_csv(t, path, csv.WriteOptions(delimiter=sep))
        return os.path.getsize(path)

    def make(self, landing: str, seed: int, op: int) -> list[Expected]:
        """Write batch ``op`` of run ``seed`` into ``landing``."""
        rng = np.random.default_rng([seed, op])
        os.makedirs(landing)
        out: list[Expected] = []
        delims = [DELIMS[i % 4] for i in rng.permutation(len(CLEAN))]
        for i, ((table, n), sep) in enumerate(zip(CLEAN, delims)):
            t = self._rows(rng, table, n)
            name = f"clean_{i}_{table}.csv"
            size = self._write_csv(os.path.join(landing, name), t, sep)
            out.append(Expected(name, True, "", t.num_rows, size))

        xdf = self._rows(rng, "orders", XLSX_ROWS).to_pandas().astype(str)
        data = write_xlsx(xdf)
        with open(os.path.join(landing, "sheet_orders.xlsx"), "wb") as f:
            f.write(data)
        out.append(Expected("sheet_orders.xlsx", True, "", len(xdf), len(data)))

        # a row with one field too many, in the middle of the file
        path = os.path.join(landing, "bad_arity.csv")
        self._write_csv(path, self._rows(rng, "lineitem", REJECT_ROWS), ",")
        with open(path, "rb") as f:
            lines = f.read().split(b"\n")
        mid = len(lines) // 2
        lines[mid] += b",extra"
        with open(path, "wb") as f:
            f.write(b"\n".join(lines))
        out.append(Expected("bad_arity.csv", False, "Failed to parse file:…", 0, 0))

        t = self._rows(rng, "customer", REJECT_ROWS)
        t = t.rename_columns([*t.column_names[:-1], t.column_names[0]])
        self._write_csv(os.path.join(landing, "bad_dup_header.csv"), t, ";")
        out.append(
            Expected("bad_dup_header.csv", False, "Duplicate column headers detected.", t.num_rows, 0)
        )

        t = self._rows(rng, "orders", REJECT_ROWS)
        t = t.rename_columns([*t.column_names[:2], " ", *t.column_names[3:]])
        self._write_csv(os.path.join(landing, "bad_blank_header.csv"), t, "|")
        out.append(
            Expected("bad_blank_header.csv", False, "One or more column headers are blank.", t.num_rows, 0)
        )

        with open(os.path.join(landing, "bad_type.json"), "w") as f:
            for rec in self._rows(rng, "events", 1_000).to_pylist():
                f.write(json.dumps(rec, default=str) + "\n")
        out.append(
            Expected("bad_type.json", False, "Unsupported file type. Use CSV or XLSX.", 0, 0)
        )

        t = self._rows(rng, "lineitem", self.oversize_rows, scaled=False)
        self._write_csv(os.path.join(landing, "bad_oversize.csv"), t, ",")
        out.append(Expected("bad_oversize.csv", False, "File exceeds max size (…", t.num_rows, 0))
        return out
