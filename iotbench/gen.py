"""Seeded inputs and the models the correctness checks compare against.

Everything the program sees is generated here from the workload seed;
the same seed gives the same devices, batches, op sequence and tables.
The models re-derive, in plain Python, what the program must answer:
which point writes the gating rules accept, which land in each sink,
and the last accepted value per priority slot of every device.
"""

from __future__ import annotations

import bisect
import hashlib

import numpy as np
import pandas as pd

# IotValue flags (the reference's IotValueFlags bitmask)
MANUAL, TS, CHAIN, PASSWORD, P9_ONLY = 1, 2, 4, 8, 64

# device kind -> (flags, strict_type, share of the fleet)
KINDS = {
    "plain": (0, None, 0.30),
    "ts": (TS, None, 0.25),
    "ts_chain": (TS | CHAIN, None, 0.15),
    "p9_only": (P9_ONLY | TS, None, 0.10),
    "strict_double": (TS, "double", 0.10),
    "password": (PASSWORD, None, 0.05),
    "manual": (MANUAL | TS, None, 0.05),
}

# priority slot -> share of writes; 1 and 8 are manual slots, and
# Priority9Only devices accept only 9 and 16
PRIORITIES = (16, 9, 12, 8, 1)
PRIORITY_P = (0.50, 0.20, 0.15, 0.10, 0.05)
BAD_VALUE_P = 0.05  # non-numeric readings on StrictType=double devices
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def write_allowed(priority: int, flags: int) -> bool:
    """The gating rules of a point write (IotValue.cs:127-132, :1098-1110)."""
    if not 1 <= priority <= 17:
        return False
    if priority in (1, 8) and not flags & MANUAL:
        return False
    if flags & P9_ONLY and priority not in (9, 16):
        return False
    return True


def stored_value(value: str, flags: int) -> str:
    return hashlib.sha256(value.encode()).hexdigest() if flags & PASSWORD else value


def _is_double(v: str) -> bool:
    try:
        float(v)
    except ValueError:
        return False
    return True


class Fleet:
    """A seeded device fleet plus its write model.

    `slots[guid][priority] = (ts_us, stored value)` is the last accepted
    write per slot, and `ts_log[guid]` lists every accepted write of a
    TimeSeries device as (ts_us, priority, stored value); timestamps are
    strictly increasing per device, so the latest write by ts is also
    the latest written and each log is in ts order."""

    def __init__(self, seed: int, n_devices: int, prefix: str = "dev"):
        self.rng = np.random.default_rng(seed)
        kinds = []
        for kind, (_f, _s, share) in KINDS.items():
            kinds += [kind] * round(share * n_devices)
        kinds = (kinds + ["plain"] * n_devices)[:n_devices]
        self.rng.shuffle(kinds)
        self.devices = [
            {
                "guid": f"{prefix}-{i:05d}",
                "name": f"{kind} device {i}",
                "flags": KINDS[kind][0],
                "strict_type": KINDS[kind][1],
                "kind": kind,
            }
            for i, kind in enumerate(kinds)
        ]
        self.by_guid = {d["guid"]: d for d in self.devices}
        self.last_ts = {d["guid"]: T0_US for d in self.devices}
        self.slots: dict[str, dict[int, tuple[int, str]]] = {}
        self.ts_log: dict[str, list[tuple[int, int, str]]] = {}
        self.accepted: dict[str, int] = {}

    def registry_rows(self, devices: list[dict] | None = None) -> list[dict]:
        return [
            {k: d[k] for k in ("guid", "name", "flags", "strict_type")}
            for d in (devices if devices is not None else self.devices)
        ]

    def add_device(self, guid: str, kind: str) -> dict:
        d = {
            "guid": guid,
            "name": f"{kind} device {guid}",
            "flags": KINDS[kind][0],
            "strict_type": KINDS[kind][1],
            "kind": kind,
        }
        self.devices.append(d)
        self.by_guid[guid] = d
        self.last_ts[guid] = T0_US
        return d

    def batch(self, guids: list[str], per_device: tuple[int, int]) -> tuple[pd.DataFrame, dict]:
        """Readings for `guids`, per_device = (low, high) readings each,
        with per-device monotonic timestamps continuing the device's
        history. Returns the frame and the model's expected counts; the
        model is updated as if the program accepted the batch."""
        rng = self.rng
        counts = rng.integers(per_device[0], per_device[1] + 1, size=len(guids))
        n = int(counts.sum())
        gaps = rng.integers(1_000_000, 120_000_000, size=n)
        prio = rng.choice(PRIORITIES, size=n, p=PRIORITY_P)
        vals = np.round(rng.normal(20.0, 5.0, size=n), 2)
        bad = rng.random(n) < BAD_VALUE_P
        guid_col, ts_col, value_col = [], np.empty(n, dtype=np.int64), []
        pos = 0
        exp = {"rows": n, "writes": 0, "ts": 0, "chain_src": 0}
        for i, g in enumerate(guids):
            d = self.by_guid[g]
            flags, strict = d["flags"], d["strict_type"]
            t = self.last_ts[g]
            slots = self.slots.setdefault(g, {})
            for j in range(pos, pos + int(counts[i])):
                t += int(gaps[j])
                ts_col[j] = t
                if d["kind"] == "password":
                    v = f"pw-{int(vals[j] * 100)}"
                elif strict == "double" and bad[j]:
                    v = "n/a"
                else:
                    v = f"{vals[j]:.2f}"
                guid_col.append(g)
                value_col.append(v)
                p = int(prio[j])
                if not write_allowed(p, flags):
                    continue
                if strict == "double" and not _is_double(v):
                    continue
                exp["writes"] += 1
                exp["ts"] += bool(flags & TS)
                exp["chain_src"] += bool(flags & CHAIN)
                self.accepted[g] = self.accepted.get(g, 0) + 1
                sv = stored_value(v, flags)
                slots[p] = (t, sv)
                if flags & TS:
                    self.ts_log.setdefault(g, []).append((t, p, sv))
            self.last_ts[g] = t
            pos += int(counts[i])
        frame = pd.DataFrame(
            {
                "guid": guid_col,
                "ts": pd.to_datetime(ts_col, unit="us"),
                "priority": prio.astype("int32"),
                "value": value_col,
            }
        )
        return frame, exp

    def series(self, guid: str, start_us: int, end_us: int) -> list[tuple[int, int, str]]:
        """The accepted TimeSeries writes of `guid` with start <= ts <= end."""
        return [w for w in self.ts_log.get(guid, ()) if start_us <= w[0] <= end_us]


def locf_last_slots(writes: list[tuple[int, int, str]]) -> dict[int, str]:
    """Priority slot -> last value written to it: the slot vector of a
    LOCF merge as of its last event."""
    return {p: v for _t, p, v in writes}


def resample_values(
    samples: list[tuple[int, float]], start_us: int, end_us: int, step_us: int
) -> list[float]:
    """A linear-interpolating resample on the grid start, start + step,
    ... <= end: grid points before the first sample are skipped, a
    sample on a grid point is taken as is, a point between two samples
    is interpolated and one after the last sample carries it forward."""
    ts = [t for t, _v in samples]
    out = []
    for g in range(start_us, end_us + 1, step_us):
        i = bisect.bisect_right(ts, g)  # samples[:i] are at or before g
        if i == 0:
            continue
        (pt, pv), nxt = samples[i - 1], samples[i] if i < len(samples) else None
        if pt == g or nxt is None:
            out.append(pv)
        else:
            out.append(pv + (nxt[1] - pv) * ((g - pt) / (nxt[0] - pt)))
    return out


# -- serve tables ---------------------------------------------------------

REGIONS = ("north", "south", "east", "west")
SENSOR_KINDS = ("temp", "humidity", "power", "flow")


def sites(n: int) -> list[dict]:
    return [
        {"id": i + 1, "site_guid": f"site-{i:04d}", "site_name": f"Site {i}",
         "region": REGIONS[i % len(REGIONS)]}
        for i in range(n)
    ]


def embeddings(seed: int, n: int, dim: int) -> np.ndarray:
    rng = np.random.default_rng(seed + 7)
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, size=n)
    v = centers[labels] + 0.6 * rng.normal(size=(n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def cosine_topk(vecs: np.ndarray, q: np.ndarray, k: int) -> list[int]:
    """Ids (0-based rows + 1) of the k best cosine matches, ties by id.
    Scores are computed in float64 the way the program does."""
    v = vecs.astype(np.float64)
    qq = q.astype(np.float64)
    s = (v @ qq) / (np.linalg.norm(v, axis=1) * np.linalg.norm(qq))
    order = np.lexsort((np.arange(len(s)), -s))
    return [int(i) + 1 for i in order[:k]]
