"""Seeded symptom-search feed: the producer side of the benchmark.

The feed follows the reference's record contract (`datetime`, `kw`,
`region`, `value`, one JSON object per line) and its designed shape of 20
symptom terms by 175 regions. Each (region, term) series has a seeded
level and weekly swing plus daily noise; a planted outbreak multiplies
every term of one region on one day. Values are whole numbers, like the
search-interest scores the reference scrapes, so daily sums are exact in
any summation order and the landing table can be checked for equality.

Everything is a pure function of the seed and the day: the same seed
gives the same files, and a day can be produced without the ones before.
"""

import datetime as _dt
import json
import os
import time

import numpy as np

# The reference producer's symptom list (and `graft.app.Main`'s default).
TERMS = [
    "Influenza", "Common cold", "Pneumonia", "Virus", "Cough", "Headache",
    "Fever", "Abdominal pain", "Diarrhea", "Vomiting", "Nausea", "Dizziness",
    "Mucus", "Phlegm", "Sore throat", "Sneeze", "Shortness of breath",
    "Pharyngitis", "Skin rash", "Itch"]

EPOCH = _dt.date(2020, 1, 1)
SPIKE = 8


def day_str(day):
    """ISO date of day index `day` (day 0 is the epoch)."""
    return (EPOCH + _dt.timedelta(days=day)).isoformat()


class Feed:
    """The seeded feed: `regions` x `terms` daily series.

    `outbreak_days` lists the day indices that may carry a planted
    outbreak; the seed picks the region for each of them."""

    def __init__(self, seed, n_regions=175, terms=TERMS, outbreak_days=()):
        self.seed = seed
        self.terms = list(terms)
        self.regions = ["R%03d" % i for i in range(n_regions)]
        rng = np.random.default_rng([seed, 0])
        shape = (n_regions, len(self.terms))
        self.level = rng.integers(30, 70, size=shape)
        self.phase = rng.uniform(0.0, 2 * np.pi, size=shape)
        picks = rng.choice(n_regions, size=len(outbreak_days), replace=False)
        self.outbreaks = {int(d): int(r) for d, r in zip(outbreak_days, picks)}

    def planted(self):
        """Planted outbreaks as a set of (region, ISO date)."""
        return {(self.regions[r], day_str(d)) for d, r in self.outbreaks.items()}

    def daily(self, day):
        """Whole-number daily totals, shape (regions, terms)."""
        rng = np.random.default_rng([self.seed, 1, day])
        swing = 1.0 + 0.15 * np.sin(2 * np.pi * day / 7.0 + self.phase)
        noise = rng.normal(1.0, 0.05, size=self.level.shape)
        v = np.maximum(np.rint(self.level * swing * noise), 4).astype(np.int64)
        r = self.outbreaks.get(day)
        if r is not None:
            v[r, :] *= SPIKE
        return v

    def lines(self, day, per_day):
        """The day's JSON lines: `per_day` records per series, evenly
        spaced over the day, whose values sum to the daily total."""
        v = self.daily(day)
        base, rem = np.divmod(v, per_day)
        date = day_str(day)
        step = 24 // per_day
        out = []
        for k in range(per_day):
            ts = "%sT%02d:00:00" % (date, k * step)
            vals = base + (k < rem)
            for ri, region in enumerate(self.regions):
                row = vals[ri]
                for ti, term in enumerate(self.terms):
                    out.append('{"datetime":"%s","kw":%s,"region":"%s","value":%d}'
                               % (ts, json.dumps(term), region, row[ti]))
        return out

    def landing_rows(self, days):
        """Expected landing rows {(ISO date, region, kw): value} for
        `days`; `kw` is sanitized the way the ingest stage does it."""
        kws = [t.replace(" ", "_") for t in self.terms]
        rows = {}
        for d in days:
            v = self.daily(d)
            date = day_str(d)
            for ri, region in enumerate(self.regions):
                for ti, kw in enumerate(kws):
                    rows[(date, region, kw)] = int(v[ri, ti])
        return rows


def stage(lines, staging, name):
    """Write a day file outside the watched directory."""
    with open(os.path.join(staging, name), "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


def publish(staging, watched, name):
    """Rename a staged file into the watched directory, so a file-stream
    reader never sees a partial file. Returns the wall time (epoch
    seconds) at which the file became visible."""
    os.rename(os.path.join(staging, name), os.path.join(watched, name))
    return time.time()
