"""Deterministic synthetic VESC ride logs.

Each log is a semicolon-separated CSV with the production channel set
(``graft.vesc.VescSchema.ProdChannels``), strictly increasing integer
``ms_today`` at irregular 10-60 Hz spacing, a few gaps wider than the
pipeline's 250 ms interpolation limit, and a dated file name. The generator
returns a record per log (row count, first and last ``ms_today``, gap list)
from which ``checks.py`` derives the expected outputs; the program itself
only ever sees the files.
"""

import os
import random

# graft.vesc.VescSchema.ProdChannels, in order.
CHANNELS = [
    "ms_today", "speed_meters_per_sec", "erpm", "duty_cycle", "current_in",
    "current_motor", "d_axis_current", "q_axis_current", "roll", "pitch", "yaw",
    "accX", "accY", "accZ", "gyroX", "gyroY", "gyroZ", "fault_code",
    "d_axis_voltage", "q_axis_voltage", "tacho_meters", "tacho_abs_meters",
    "input_voltage", "temp_mos_max", "temp_motor", "battery_level",
]

MIN_DT_MS = 17        # 60 Hz
MAX_DT_MS = 100       # 10 Hz
GAP_EVERY = 450       # mean samples between wide gaps
GAP_MS = (300, 1500)  # wide gap length, always > 250 ms


def _fmt(v):
    return "%.4f" % v


def write_log(path, rows, rng, start_ms):
    """Write one log of `rows` samples; return (first_ms, last_ms, gaps)."""
    gaps = []
    t = start_ms
    speed = rng.uniform(2.0, 6.0)
    heading = rng.uniform(-180.0, 180.0)
    tacho = 0.0
    batt = rng.uniform(70.0, 100.0)
    temp = rng.uniform(25.0, 35.0)
    lines = [";".join(CHANNELS)]
    next_gap = rng.randint(GAP_EVERY // 2, GAP_EVERY * 3 // 2)
    for i in range(rows):
        if i > 0:
            if i == next_gap:
                dt = rng.randint(*GAP_MS)
                gaps.append([t, t + dt])
                next_gap = i + rng.randint(GAP_EVERY // 2, GAP_EVERY * 3 // 2)
            else:
                dt = rng.randint(MIN_DT_MS, MAX_DT_MS)
            t += dt
            accel = rng.gauss(0.0, 0.4)
            speed = min(12.0, max(-1.0, speed + accel * dt / 1000.0 * 5))
            heading += rng.gauss(0.0, 2.0)
            tacho += abs(speed) * dt / 1000.0
        else:
            accel = 0.0
        cur = 8.0 * accel + 0.6 * speed
        erpm = speed * 980.0
        yaw = ((heading + 180.0) % 360.0) - 180.0
        lines.append(";".join([
            str(t), _fmt(speed), _fmt(erpm), _fmt(speed / 14.0),
            _fmt(cur * 0.8), _fmt(cur), _fmt(rng.gauss(0.0, 0.3)), _fmt(cur),
            _fmt(rng.gauss(0.0, 3.0)), _fmt(rng.gauss(1.0, 2.0)), _fmt(yaw),
            _fmt(accel), _fmt(rng.gauss(0.0, 0.2)), _fmt(1.0 + rng.gauss(0.0, 0.05)),
            _fmt(rng.gauss(0.0, 5.0)), _fmt(rng.gauss(0.0, 5.0)),
            _fmt(rng.gauss(0.0, 8.0)), "0",
            _fmt(rng.gauss(0.0, 0.5)), _fmt(cur * 0.3),
            _fmt(tacho), _fmt(tacho), _fmt(50.4 - 0.05 * cur),
            _fmt(temp + (0.002 * i) % 15), _fmt(temp + 5.0),
            _fmt(max(0.0, batt - 0.0001 * i)),
        ]))
    with open(path, "w", newline="\n") as f:
        f.write("\n".join(lines))
        f.write("\n")
    return start_ms, t, gaps


def log_name(rng, index):
    """A dated VESC-style file name (the date is read from the name)."""
    month = rng.randint(1, 12)
    day = rng.randint(1, 28)
    hour = rng.randint(6, 20)
    minute = rng.randint(0, 59)
    return "2025-%02d-%02d_%02d-%02d-%02d_log%03d.csv" % (
        month, day, hour, minute, rng.randint(0, 59), index), hour, minute


def generate(out_dir, seed, rows, count, prefix="", fleet=False):
    """Write `count` logs of `rows` samples each under `out_dir`.

    With `fleet`, each log goes into its own ``ride log NN/`` directory,
    as a ride archive is laid out. Returns one record per log, in order.
    """
    rng = random.Random("%s:%d:%d:%d:%d" % (prefix, seed, rows, count, fleet))
    records = []
    for i in range(count):
        name, hour, minute = log_name(rng, i)
        name = prefix + name
        sub = "ride log %02d" % (i + 1) if fleet else ""
        rel = os.path.join(sub, name) if sub else name
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        start = (hour * 3600 + minute * 60) * 1000 + rng.randint(0, 59999)
        first, last, gaps = write_log(path, rows, rng, start)
        records.append({"file": rel, "rows": rows, "first_ms": first,
                        "last_ms": last, "gaps": gaps})
    return records
