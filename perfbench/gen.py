"""Seeded input generator for the benchmark workloads.

An input is a fixed customer population laid out as transaction rows.
The population (each customer's segment, recency, invoice count, row
count and total spend) depends only on the customer and row counts, so
every seed yields the same RFM table and the clustering does the same
work; ``--seed`` decides the rows: how each customer's spend is split
over its lines, the dates of its earlier lines, the other columns and
the row order. The same seed writes byte-identical parquet. The output
checks rely only on what the generator guarantees (the exact customer
count), never on a value the engine produced.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row count of the reference's UCI Online Retail transactions file.
REFERENCE_ROWS = 541_910
#: Customers left in the reference's data after its quality filter.
REFERENCE_CUSTOMERS = 4_338
#: Reference instant of ``features.compute_rfm`` (its DEFAULT_REF_INSTANT).
REF_INSTANT_US = int(np.datetime64("2024-07-01T00:00:00", "us").astype(np.int64))
US_PER_DAY = 86_400_000_000

#: Planted customer segments: (customer share, recency days [lo, hi),
#: median invoices, mean line value). The shares are the reference's
#: reported cluster skew (70.5 / 24.5 / 0.3 / 4.7 %) and the longest
#: recency, 373 days, is the span of the reference's data; the other values
#: are calibrated so that the ``rfm_retail`` input reproduces the
#: reference's published silhouette and inertia (NOTES.md, "Input shape").
SEGMENTS = (
    (0.705, (0, 186), 4.3, 3.8),
    (0.245, (225, 373), 2.4, 14.0),
    (0.003, (0, 15), 25.3, 96.1),
    (0.047, (0, 40), 22.3, 11.1),
)
#: Log-normal spread of invoices per customer around its segment's median
#: (calibrated with the columns above).
INVOICE_SIGMA = 0.88
#: Seed of the customer population, fixed: ``--seed`` varies only the rows.
POPULATION_SEED = 0

#: Parquet row-group size: several row groups per file so the scan splits
#: across cores, as a real multi-block input would.
ROW_GROUP = 131_072

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])


def _segment_of(rng: np.random.Generator, n_customers: int) -> np.ndarray:
    """Exact segment sizes from the shares (largest remainder), shuffled."""
    shares = np.array([s[0] for s in SEGMENTS])
    raw = shares * n_customers
    sizes = np.floor(raw).astype(np.int64)
    for i in np.argsort(-(raw - sizes))[: n_customers - sizes.sum()]:
        sizes[i] += 1
    seg = np.repeat(np.arange(len(SEGMENTS)), sizes)
    rng.shuffle(seg)
    return seg


def population(n_rows: int, n_customers: int):
    """The customer population: per customer its segment, row count,
    invoice count, days since its last purchase and total spend in cents.
    Every customer has at least one row, at most one invoice per row and
    at least one cent per row."""
    if n_rows < n_customers:
        raise ValueError("need at least one row per customer")
    pop = np.random.default_rng(POPULATION_SEED)
    seg = _segment_of(pop, n_customers)
    median = np.array([s[2] for s in SEGMENTS])[seg]
    wanted = np.maximum(1, np.rint(pop.lognormal(np.log(median), INVOICE_SIGMA)))
    # rows follow invoices: every invoice has the same expected line count
    rows_per = 1 + pop.multinomial(n_rows - n_customers, wanted / wanted.sum())
    invoices = np.minimum(rows_per, wanted.astype(np.int64))
    rec_lo = np.array([s[1][0] for s in SEGMENTS])[seg]
    rec_hi = np.array([s[1][1] for s in SEGMENTS])[seg]
    recency_days = pop.uniform(rec_lo, rec_hi)
    # the sum of rows_per exponential line values around the segment mean
    line_value = np.array([s[3] for s in SEGMENTS])[seg]
    spend_cents = np.maximum(
        rows_per, np.rint(100 * pop.gamma(rows_per, line_value)).astype(np.int64)
    )
    return seg, rows_per, invoices, recency_days, spend_cents


def write_events(path: str, seed: int, n_rows: int, n_customers: int) -> list[int]:
    """Write an ``events`` table of ``n_rows`` rows over exactly
    ``n_customers`` customers (:func:`population`) with rows from ``seed``.

    Each customer gets one row before the remaining rows are spread, so
    the customer count is exact however wide the table is (weighted
    sampling alone leaves many customers without a row). Every row has a
    positive value and a timestamp at or before the reference instant, so
    every customer passes the RFM quality filter. Returns the planted
    segment sizes.
    """
    seg, rows_per, invoices, recency_days, spend_cents = population(n_rows, n_customers)
    rng = np.random.default_rng(seed)
    last_us = REF_INSTANT_US - (recency_days * US_PER_DAY).astype(np.int64)

    cust = np.repeat(np.arange(n_customers, dtype=np.int64), rows_per)
    # position of each row within its customer's block
    starts = np.repeat(np.cumsum(rows_per) - rows_per, rows_per)
    pos = np.arange(n_rows, dtype=np.int64) - starts
    inv_base = np.repeat(np.cumsum(invoices) - invoices, rows_per)
    # every invoice of the customer is used (rows_per >= invoices)
    event_id = 1_000_000 + inv_base + pos % np.repeat(invoices, rows_per)
    # the first row of each customer carries the exact last purchase time;
    # the rest fall up to a year before it
    back_us = (rng.uniform(0, 365, n_rows) * US_PER_DAY).astype(np.int64)
    back_us[pos == 0] = 0
    ts = np.repeat(last_us, rows_per) - back_us
    # split each customer's spend over its rows: one cent each, the rest
    # by random shares; the first row takes what rounding leaves, so the
    # customer's cents sum exactly to its spend
    share = rng.exponential(1.0, n_rows)
    share /= np.bincount(cust, weights=share)[cust]
    cents = 1 + np.floor(share * np.repeat(spend_cents - rows_per, rows_per)).astype(np.int64)
    cents[pos == 0] += spend_cents - np.bincount(cust, weights=cents).astype(np.int64)
    value = cents / 100.0
    user_id = 10_000 + cust
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_rows)]
    props = np.char.add('{"k": ', np.char.add(rng.integers(0, 100, n_rows).astype(str), "}"))

    order = rng.permutation(n_rows)
    table = pa.table(
        {
            "event_id": pa.array(event_id[order], pa.int64()),
            "ts": pa.array(ts[order], pa.timestamp("us")),
            "user_id": pa.array(user_id[order], pa.int64()),
            "event_type": pa.array(etype[order]),
            "value": pa.array(value[order], pa.float64()),
            "props": pa.array(props[order]),
        }
    )
    pq.write_table(table, path, row_group_size=ROW_GROUP)
    return np.bincount(seg, minlength=len(SEGMENTS)).tolist()
