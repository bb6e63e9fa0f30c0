"""Seeded input generators for the benchmark.

Everything the program under test sees is made here from ``--seed``:
the employees CSV of the import pipeline (with planted, counted
defects) and the TPC-H-like parquet tables plus ``documents`` and
``embeddings`` that the registry entries read. The same seed always
gives byte-identical inputs.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TODAY = "2026-08-13"  # injected "today" of the age_gte rule
MIN_AGE = 35

_D = r"^\d{4}-\d{2}-\d{2}$"
# FIXTURES.md section 1: the employees schema, settings and projections.
EMPLOYEES_FIELDS = {
    "company_id": {"type": "int", "required": True},
    "employee_id": {"type": "int", "required": True},
    "first_name": {"type": "str", "required": True},
    "last_name": {"type": "str", "required": True},
    "email": {
        "type": "str",
        "required": True,
        "pattern": r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$",
    },
    "gender": {"type": "str", "required": True, "pattern": "^(male|female)$"},
    "birthday_on": {"type": "str", "required": True, "pattern": _D},
    "country": {"type": "str", "required": True},
    "effective_on": {"type": "str", "pattern": _D},
    "starts_on": {"type": "str", "pattern": _D},
    "ends_on": {"type": "str", "pattern": _D},
    "has_payroll": {"type": "bool"},
    "has_trial_period": {"type": "bool"},
    "trial_period_ends_on": {"type": "str", "pattern": _D},
    "salary_amount": {"type": "float"},
    "salary_frequency": {
        "type": "str",
        "pattern": "^(yearly|monthly|weekly|daily|hourly)$",
    },
    "working_week_days": {"type": "str"},
    "working_hours": {"type": "int"},
    "working_hours_frequency": {"type": "str", "pattern": "^(week|month|year)$"},
    "max_legal_yearly_hours": {"type": "int"},
    "maximum_weekly_hours": {"type": "int"},
    "created_at": {"type": "str", "pattern": _D},
    "updated_at": {"type": "str", "pattern": _D},
    "contracts_es_tariff_group_id": {"type": "int"},
}
COLUMNS = list(EMPLOYEES_FIELDS)

PROJECTIONS = [
    {
        "name": "personal_data",
        "type": "table",
        "query": "SELECT employee_id, company_id, first_name, last_name, email, "
        "gender, birthday_on FROM employees",
    },
    {
        "name": "contract_data",
        "type": "view",
        "query": "SELECT employee_id, company_id, salary_amount, starts_on FROM employees",
        "aliases": {"employee_id": "emp_id"},
    },
]


def employees_config(source: str) -> dict:
    return {
        "transformations_config": {
            "employees": {
                "source": source,
                "settings": {
                    "duplicate_resolution": "last",
                    "custom_validation_mode": "skip",
                    "unique_composite": [["employee_id", "company_id"]],
                },
                "projections": PROJECTIONS,
                "validations": {
                    "schema": {"fields": EMPLOYEES_FIELDS},
                    "custom": {
                        "rules": [
                            {
                                "field": "birthday_on",
                                "validation": "age_gte",
                                "params": {"min_age": MIN_AGE},
                            }
                        ]
                    },
                },
            }
        }
    }


@dataclass(frozen=True)
class Planted:
    """The counts a correct import of the generated CSV must report."""

    total: int
    schema_errors: int
    duplicates: int
    under_age: int

    @property
    def valid(self) -> int:
        return self.total - self.schema_errors - self.duplicates - self.under_age


_FIRST = "ana bo cy di ed fi gus hana ivo jo kai lea max nia omar pia quin rui sol tom".split()
_LAST = "garcia lopez smith novak rossi muller silva dubois berg kim".split()
_COUNTRY = "es fr de it pt nl be at".split()
_FREQ = "yearly monthly weekly daily hourly".split()
_DAYS = '"monday,tuesday,wednesday,thursday,friday"'


def _dates(rng: np.random.Generator, n: int, y0: int, y1: int) -> np.ndarray:
    y = rng.integers(y0, y1 + 1, n)
    m = rng.integers(1, 13, n)
    d = rng.integers(1, 29, n)  # every (y, m, d) is a real date
    return np.char.add(
        np.char.add(np.char.add(y.astype(str), "-"), np.char.zfill(m.astype(str), 2)),
        np.char.add("-", np.char.zfill(d.astype(str), 2)),
    )


def write_employees_csv(path: str, rows: int, seed: int) -> Planted:
    """Write a ``rows``-line employees CSV and return its planted counts.

    Every row is valid except the planted ones, and each planted row
    carries exactly one defect: a regex failure (email, gender or
    birthday format), a type-coercion failure (salary or working
    hours), an under-age birthday (fails ``age_gte`` at ``TODAY``), or
    a re-ingest of an earlier valid row's ``(employee_id, company_id)``
    key (removed under ``last`` resolution: the earlier copy goes)."""
    rng = np.random.default_rng(seed)
    n_regex = max(3, rows // 60)
    n_type = max(2, rows // 90)
    n_dup = max(2, rows // 35)
    n_young = max(2, rows // 25)
    n_plain = rows - n_dup  # rows with their own key
    kind = np.zeros(n_plain, dtype=np.int8)  # 0 valid, 1 regex, 2 type, 3 young
    marked = rng.choice(n_plain, n_regex + n_type + n_young, replace=False)
    kind[marked[:n_regex]] = 1
    kind[marked[n_regex : n_regex + n_type]] = 2
    kind[marked[n_regex + n_type :]] = 3

    emp = np.arange(1, n_plain + 1)
    comp = 100 + rng.integers(0, 7, n_plain)
    first = rng.choice(_FIRST, n_plain)
    last = rng.choice(_LAST, n_plain)
    email = np.char.add(np.char.add(np.char.add(first, "."), last), np.char.add(emp.astype(str), "@example.com"))
    gender = rng.choice(["male", "female"], n_plain)
    birthday = _dates(rng, n_plain, 1950, 1989)
    birthday[kind == 3] = _dates(rng, int((kind == 3).sum()), 1993, 2006)
    salary = np.char.mod("%.2f", rng.uniform(18000, 90000, n_plain))
    hours = rng.integers(20, 41, n_plain).astype(str)

    regex_rows = np.flatnonzero(kind == 1)
    which = rng.integers(0, 3, len(regex_rows))
    email[regex_rows[which == 0]] = "no-at-sign.example.com"
    gender[regex_rows[which == 1]] = "unknown"
    birthday[regex_rows[which == 2]] = "1980/01/01"
    type_rows = np.flatnonzero(kind == 2)
    which = rng.integers(0, 2, len(type_rows))
    salary[type_rows[which == 0]] = "abc"
    hours[type_rows[which == 1]] = "n/a"

    starts = _dates(rng, n_plain, 2010, 2024)
    ends = np.where(rng.random(n_plain) < 0.7, "", _dates(rng, n_plain, 2025, 2030))
    cols = {
        "company_id": comp.astype(str),
        "employee_id": emp.astype(str),
        "first_name": first,
        "last_name": last,
        "email": email,
        "gender": gender,
        "birthday_on": birthday,
        "country": rng.choice(_COUNTRY, n_plain),
        "effective_on": starts,
        "starts_on": starts,
        "ends_on": ends,
        "has_payroll": rng.choice(["true", "false"], n_plain),
        "has_trial_period": rng.choice(["true", "false"], n_plain),
        "trial_period_ends_on": _dates(rng, n_plain, 2010, 2024),
        "salary_amount": salary,
        "salary_frequency": rng.choice(_FREQ, n_plain),
        "working_week_days": np.full(n_plain, _DAYS),
        "working_hours": hours,
        "working_hours_frequency": rng.choice(["week", "month", "year"], n_plain),
        "max_legal_yearly_hours": np.full(n_plain, "1826"),
        "maximum_weekly_hours": rng.integers(35, 49, n_plain).astype(str),
        "created_at": _dates(rng, n_plain, 2015, 2024),
        "updated_at": _dates(rng, n_plain, 2024, 2026),
        "contracts_es_tariff_group_id": rng.integers(1, 12, n_plain).astype(str),
    }
    table = np.stack([cols[c] for c in COLUMNS], axis=1).astype(object)

    # duplicates: copies of distinct earlier valid rows with a changed
    # salary, each inserted at a random position after its original
    originals = rng.choice(np.flatnonzero(kind == 0), n_dup, replace=False)
    dups = table[originals].copy()
    dups[:, COLUMNS.index("salary_amount")] = np.char.mod(
        "%.2f", rng.uniform(18000, 90000, n_dup)
    )
    at = originals + 1 + (rng.random(n_dup) * (n_plain - originals)).astype(np.int64)
    order = np.argsort(np.concatenate([np.arange(n_plain) * 2, at * 2 - 1]), kind="stable")
    rows_out = np.concatenate([table, dups])[order]

    with open(path, "w", newline="") as f:
        f.write(",".join(COLUMNS) + "\n")
        f.writelines(",".join(r) + "\n" for r in rows_out)
    return Planted(rows, n_regex + n_type, n_dup, n_young)


def count_csv_rows(path: str) -> int:
    with open(path, newline="") as f:
        return sum(1 for _ in csv.reader(f)) - 1


# ---------------------------------------------------------------------
# registry tables
# ---------------------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DAY_US = 86_400_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _ts(rng: np.random.Generator, n: int, days: int) -> pa.Array:
    d = _EPOCH_1995 + rng.integers(0, days, n)
    return pa.array(d * _DAY_US, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def write_registry_tables(out_dir: str, lineitems: int, docs: int, vecs: int, seed: int) -> None:
    """The tables the registry mix reads, shaped like the tables in
    TESTDATA.md: ``lineitems`` TPC-H-like line items (keys drawn from a
    quarter as many orders), ``docs`` documents of 10-100 words with 5%
    ``" dup"``-suffixed near-copies, ``vecs`` unit vectors in ten
    labelled clusters."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    orders = max(lineitems // 4, 10)
    parts = max(lineitems // 30, 10)
    supps = max(lineitems // 600, 5)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("lineitem", {
        "l_orderkey": rng.integers(0, orders, lineitems),
        "l_partkey": rng.integers(0, parts, lineitems),
        "l_suppkey": rng.integers(0, supps, lineitems),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitems), pa.int32()),
        "l_quantity": rng.integers(1, 51, lineitems).astype(np.float64),
        "l_extendedprice": _money(rng, lineitems, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, lineitems) / 100.0,
        "l_tax": rng.integers(0, 9, lineitems) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], lineitems),
        "l_linestatus": rng.choice(["F", "O"], lineitems),
        "l_shipdate": _ts(rng, lineitems, 2499),
    })

    lengths = rng.integers(10, 101, docs)
    words = rng.choice(_WORDS, int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    text = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(docs)]
    for i in rng.choice(docs, docs // 20, replace=False):
        text[i] = text[int(rng.integers(0, docs))] + " dup"
    put("documents", {
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": text,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })

    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, vecs)
    emb = centers[label] + rng.normal(scale=0.8, size=(vecs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
