"""Seeded inputs for the end-to-end benchmark, and the numpy oracle that
checks the server's answers against them.

Nothing here imports the program under test: the oracle re-derives
every expected page (per-pixel min/max, raw slices, montage
differences, the Butterworth bandpass recurrence) from the generated
arrays alone, so a defect in the program cannot also hide in its
reference.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

RATE_HZ = 256.0
T0_US = 1_600_000_000_000_000  # epoch-µs; a whole number of seconds

# Union of the electrodes the three built-in montage schemes reference
# (bipolar anterior-posterior, bipolar transverse, referential vs Cz).
CHANNELS = sorted(
    """Fp1 Fp2 F7 F8 F3 F4 Fz F2 T7 T8 C3 C4 Cz P7 P8 P3 P4 Pz P2 O1 O2
    A1 A2 Q1 Q2""".split()
)

BIPOLAR_ANT_POS = [
    ("Fp1", "F7"), ("F7", "T7"), ("T7", "P7"), ("P7", "O1"),
    ("Fp2", "F8"), ("F8", "T8"), ("T8", "P8"), ("P8", "O2"),
    ("Fp1", "F3"), ("F3", "C3"), ("C3", "P3"), ("P3", "O1"),
    ("Fp2", "F4"), ("F4", "C4"), ("C4", "P4"), ("P4", "O2"),
    ("Fz", "Cz"), ("Cz", "Fz"),
]


@dataclass
class Recording:
    """A multi-channel recording on one shared timestamp grid: every
    channel has a sample at every ts (gaps are shared, as when
    acquisition pauses)."""

    channels: list[str]
    ts: np.ndarray          # int64 epoch-µs, strictly increasing
    values: np.ndarray      # float64, shape (n_channels, len(ts))

    def row(self, channel: str) -> np.ndarray:
        return self.values[self.channels.index(channel)]

    @property
    def start_us(self) -> int:
        return int(self.ts[0])

    @property
    def end_us(self) -> int:
        return int(self.ts[-1]) + 1


def make_recording(seed: int, duration_s: int, n_gaps: int) -> Recording:
    """EEG-like traces: a few rhythms per channel, drift, line noise and
    white noise, with ``n_gaps`` seeded acquisition gaps of 0.5-4 s
    (longer than the filter's 100-sample reset threshold)."""
    rng = np.random.default_rng(seed)
    n = int(duration_s * RATE_HZ)
    idx = np.arange(n, dtype=np.int64)
    ts = T0_US + idx * 1_000_000 // int(RATE_HZ)
    keep = np.ones(n, dtype=bool)
    for start in rng.integers(0, n - 1024, size=n_gaps):
        keep[start : start + int(rng.uniform(0.5, 4.0) * RATE_HZ)] = False
    ts = ts[keep]
    t = (ts - T0_US) / 1e6
    values = np.empty((len(CHANNELS), len(ts)))
    for c in range(len(CHANNELS)):
        sig = rng.normal(0.0, 4.0, len(ts))
        for f, a in ((2.0, 30.0), (10.0, 20.0), (21.0, 6.0), (60.0, 3.0)):
            f *= rng.uniform(0.9, 1.1)
            sig += a * rng.uniform(0.5, 1.5) * np.sin(
                2 * np.pi * f * t + rng.uniform(0, 2 * np.pi)
            )
        sig += rng.uniform(-50, 50) + 10.0 * np.sin(2 * np.pi * t / 97.0)
        values[c] = np.round(sig, 3)
    return Recording(list(CHANNELS), ts, values)


# --------------------------------------------------------------------------
# oracle: what one channel message of a page must carry
# --------------------------------------------------------------------------

@dataclass
class Expected:
    start_ts: int
    is_min_max: bool
    data: np.ndarray        # raw values, or interleaved [min, max, ...]


def _window(rec: Recording, start: int, end: int) -> slice:
    lo, hi = np.searchsorted(rec.ts, [start, end], side="left")
    return slice(int(lo), int(hi))


def minmax_pixels(ts: np.ndarray, v: np.ndarray, start: int, pixel_us: int) -> Expected:
    """Min/max of every non-empty pixel ``floor((ts-start)/pixel)`` in
    pixel order, interleaved as on the wire."""
    if len(ts) == 0:
        return Expected(0, False, np.empty(0))
    px = (ts - start) // pixel_us
    cut = np.flatnonzero(np.diff(px)) + 1
    bounds = np.concatenate([[0], cut])
    data = np.empty(2 * len(bounds))
    data[0::2] = np.minimum.reduceat(v, bounds)
    data[1::2] = np.maximum.reduceat(v, bounds)
    return Expected(int(start + px[0] * pixel_us), True, data)


def expected_page(
    rec: Recording,
    channels: list[str],
    start: int,
    end: int,
    pixel_us: int,
    bandpass: "Bandpass | None" = None,
) -> dict[str, Expected]:
    """Every channel message of a page. A channel is a plain electrode
    or a ``lead<->secondary`` montage pair; ``bandpass`` filters the
    (montaged) window before it is resampled."""
    w = _window(rec, start, end)
    ts = rec.ts[w]
    rows = []
    for name in channels:
        lead, _, sec = name.partition("<->")
        v = rec.row(lead)[w]
        rows.append(v - rec.row(sec)[w] if sec else v)
    values = np.array(rows).reshape(len(channels), len(ts))
    if bandpass is not None:
        values = bandpass.filter_runs(ts, values)
    out = {}
    for name, v in zip(channels, values):
        if pixel_us and pixel_us / (1e6 / RATE_HZ) > 3.0:
            out[name] = minmax_pixels(ts, v, start, pixel_us)
        elif len(ts) == 0:
            out[name] = Expected(0, False, np.empty(0))
        else:
            out[name] = Expected(int(ts[0]), False, v)
    return out


# --------------------------------------------------------------------------
# Butterworth bandpass: design and recurrence, written from the filter's
# definition (analog prototype, band transform, bilinear map with
# pre-warped edges; unit gain at the geometric centre)
# --------------------------------------------------------------------------

class Bandpass:
    def __init__(self, order: int, low_hz: float, high_hz: float, fs: float = RATE_HZ):
        warp = lambda f: 2 * fs * math.tan(math.pi * f / fs)  # noqa: E731
        w1, w2 = warp(low_hz), warp(high_hz)
        w0, bw = math.sqrt(w1 * w2), w2 - w1
        k = np.arange(order)
        proto = np.exp(1j * np.pi * (2 * k + order + 1) / (2 * order))
        half = proto * bw / 2
        disc = np.sqrt(half**2 - w0**2)
        analog = np.concatenate([half + disc, half - disc])
        poles = (2 * fs + analog) / (2 * fs - analog)
        upper = sorted((p for p in poles if p.imag > 0), key=lambda p: p.real)
        # each section: zeros at z=+1 and z=-1, one conjugate pole pair
        self.a = np.array([[1.0, -2 * p.real, abs(p) ** 2] for p in upper])
        self.b = np.tile([1.0, 0.0, -1.0], (len(upper), 1))
        z = np.exp(1j * 2 * math.atan(w0 / (2 * fs)))  # digital centre
        gain = np.prod(
            [(1 - z**-2) / (a[0] + a[1] / z + a[2] / z**2) for a in self.a]
        )
        self.b[0] /= abs(gain)
        # transient length the prewarm covers (ceil(rate/f * 8 * (1 + (order-1)/2)))
        self.pad = int(math.ceil(fs / high_hz * 8.0 * (1.0 + (order - 1) * 0.5)))
        self.reset_gap_us = 100 / fs * 1e6

    def _run(self, x: np.ndarray, zi: np.ndarray | None) -> tuple[np.ndarray, np.ndarray]:
        """Direct-form-II-transposed cascade over a (lanes, n) block."""
        z = np.zeros((len(self.a), x.shape[0], 2)) if zi is None else zi.copy()
        y = x.copy()
        for s, (b, a) in enumerate(zip(self.b, self.a)):
            z0, z1 = z[s, :, 0], z[s, :, 1]
            out = np.empty_like(y)
            for i in range(y.shape[1]):
                xn = y[:, i]
                yn = b[0] * xn + z0
                z0 = b[1] * xn - a[1] * yn + z1
                z1 = b[2] * xn - a[2] * yn
                out[:, i] = yn
            z[s, :, 0], z[s, :, 1] = z0, z1
            y = out
        return y, z

    def _prewarm(self, x: np.ndarray) -> np.ndarray:
        """Reflected head of a (lanes, n) run, ``pad`` samples long."""
        n, need = x.shape[1], self.pad
        if n == 1:
            return np.repeat(x[:, :1], need, axis=1)
        if n >= need:
            return x[:, :need][:, ::-1].copy()
        both = np.concatenate([x[:, ::-1], x], axis=1)
        if n >= need / 2:
            if both.shape[1] >= need:
                return both[:, :need]
            fill = np.repeat(x[:, :1], need - both.shape[1], axis=1)
            return np.concatenate([fill, both[:, : need - fill.shape[1]]], axis=1)
        return np.tile(both, need // both.shape[1] + 1)[:, :need]

    def filter_runs(self, ts: np.ndarray, v: np.ndarray) -> np.ndarray:
        """Filter every lane of ``v`` (lanes, len(ts)) run by run: gaps
        over 100 sample periods restart the filter, whose state is
        warmed on the reflected head of the run."""
        out = np.empty_like(v)
        if v.shape[1] == 0:
            return out
        breaks = np.flatnonzero(np.diff(ts) > self.reset_gap_us) + 1
        for lo, hi in zip(np.concatenate([[0], breaks]), np.append(breaks, len(ts))):
            x = v[:, lo:hi]
            _, zi = self._run(self._prewarm(x), None)
            out[:, lo:hi] = self._run(x, zi)[0]
        return out


def close_enough(got: np.ndarray, want: np.ndarray, filtered: bool) -> bool:
    """Unfiltered answers are copies and min/max of stored doubles and
    must match exactly; filtered ones may differ by rounding only."""
    if got.shape != want.shape:
        return False
    if not filtered:
        return bool(np.array_equal(got, want))
    scale = max(1.0, float(np.max(np.abs(want))) if len(want) else 1.0)
    return bool(np.allclose(got, want, rtol=0.0, atol=1e-7 * scale))


# --------------------------------------------------------------------------
# ingest backlog
# --------------------------------------------------------------------------

@dataclass
class Backlog:
    """Ingest segments: one row per (file, channel, segment)."""

    channels: list[str]
    files: list[list[tuple[str, int, float, np.ndarray]]]
    period_us: int

    def expected(self, window_us: int) -> dict[str, dict]:
        """Per channel: what the committed table must hold (count, sum,
        min, max) and the streaming min/max rows, (window start, min,
        max, count), of every window the final watermark closes (the
        maximum event time, floored to the millisecond)."""
        per: dict[str, tuple[list, list]] = {name: ([], []) for name in self.channels}
        for rows in self.files:
            for name, start, _period, data in rows:
                per[name][0].append(start + np.arange(len(data), dtype=np.int64) * self.period_us)
                per[name][1].append(data)
        arrays = {n: (np.concatenate(t), np.concatenate(v)) for n, (t, v) in per.items()}
        watermark = max(int(t.max()) for t, _ in arrays.values()) // 1000 * 1000
        out = {}
        for name, (ts, v) in arrays.items():
            order = np.argsort(ts, kind="stable")
            ts, v = ts[order], v[order]
            win = ts // window_us * window_us
            bounds = np.concatenate([[0], np.flatnonzero(np.diff(win)) + 1])
            windows = {
                (int(w), float(lo), float(hi), int(n))
                for w, lo, hi, n in zip(
                    win[bounds], np.minimum.reduceat(v, bounds),
                    np.maximum.reduceat(v, bounds), np.diff(np.append(bounds, len(v))),
                )
                if w + window_us <= watermark
            }
            out[name] = {"n": len(v), "sum": float(v.sum()), "abs": float(np.abs(v).sum()),
                         "min": float(v.min()), "max": float(v.max()), "windows": windows}
        return out


def make_backlog(
    seed: int, n_files: int, n_channels: int, seg_samples: int, segs_per_file: int
) -> Backlog:
    """Event-time-ordered segments: file i carries the next
    ``segs_per_file`` segments of every channel."""
    rng = np.random.default_rng(seed)
    channels = CHANNELS[:n_channels]
    period = 1e6 / RATE_HZ
    period_us = int(math.floor(period + 0.5))
    seg_us = seg_samples * period_us
    files = []
    for i in range(n_files):
        rows = []
        for c, name in enumerate(channels):
            for s in range(segs_per_file):
                start = T0_US + (i * segs_per_file + s) * seg_us
                data = np.round(rng.normal(c, 20.0, seg_samples), 3)
                rows.append((name, start, period, data))
        files.append(rows)
    return Backlog(channels, files, period_us)
