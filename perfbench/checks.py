"""Output checks, computed from the generator's records alone.

The pipeline's contract for one ride log (``graft.vesc.VescPipeline.analyze``):

* a 100 ms grid from the first to the last ``ms_today``;
* grid ticks strictly inside a gap wider than 250 ms carry no features;
* a 30-step window every 5 steps, kept while it fits the grid and at
  least 70% of its cells are present;
* ``tsec`` is a window's mid time in seconds from the ride's first kept
  window, so kept windows sit on a 0.5 s step;
* the display timeline averages blocks of ``round(0.5 / median step)``
  windows, dropping the remainder.

Each check returns a list of problems; an empty list means the output
passed.
"""

import json
import math

CONFIDENCES = [
    "cf_accel", "cf_brake", "cf_cruise", "cf_turn_left", "cf_turn_right",
    "cf_carve_left", "cf_carve_right", "cf_ascent", "cf_descent",
    "cf_traction_loss", "cf_idle", "cf_forward", "cf_reverse",
]
STEP_MS = 100
MAX_GAP_MS = 250
WINDOW = 30
STRIDE = 5
FEATURES = 24
MIN_VALID = 0.7
DISPLAY_DT = 0.5
TOL = 1e-6


def _median(xs):
    """Spark's exact `percentile(x, 0.5)`: linear between closest ranks."""
    xs = sorted(xs)
    pos = 0.5 * (len(xs) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def stride_positions(grid_rows):
    """Window start positions on a ride of `grid_rows` grid rows."""
    return len(range(0, grid_rows - WINDOW + 1, STRIDE))


def expected(rec):
    """Expected grid, window and display shape of one log's ride."""
    t0, t1 = rec["first_ms"], rec["last_ms"]
    n = (t1 - t0) // STEP_MS + 1
    valid = [1] * n
    for a, b in rec["gaps"]:
        if b - a > MAX_GAP_MS:
            lo = (a - t0) // STEP_MS + 1                 # first tick > a
            hi = -((t0 - b) // STEP_MS) - 1              # last tick < b
            for k in range(max(lo, 0), min(hi, n - 1) + 1):
                valid[k] = 0
    prefix = [0]
    for v in valid:
        prefix.append(prefix[-1] + v)
    starts = list(range(0, n - WINDOW + 1, STRIDE))
    kept = [s for s in starts
            if (prefix[s + WINDOW] - prefix[s]) * FEATURES / (WINDOW * FEATURES)
            >= MIN_VALID]
    tsec = [(s - kept[0]) * STEP_MS / 1000.0 for s in kept]
    diffs = [b - a for a, b in zip(tsec, tsec[1:])]
    step = 1
    if diffs:
        base = _median(diffs)
        step = max(1, int(math.floor(DISPLAY_DT / base + 0.5)))
    usable = len(tsec) - len(tsec) % step
    display = [sum(tsec[i:i + step]) / step for i in range(0, usable, step)]
    return {"grid_rows": n, "stride_positions": stride_positions(n),
            "windows": len(kept), "display_rows": len(display),
            "tsec": display}


def rides_of(columns, rows):
    """Group timeline rows by ride: {ride_id: [row dict]} in row order."""
    rides = {}
    for r in rows:
        d = dict(zip(columns, r))
        rides.setdefault(d.get("ride_id"), []).append(d)
    return rides


def check_ride(ride_rows, exp=None):
    """One ride's display timeline: shape, 0.5 s steps, scores in [0, 1]."""
    problems = []
    if not ride_rows:
        return ["empty ride"]
    missing = [c for c in CONFIDENCES if c not in ride_rows[0]]
    if missing:
        problems.append("missing score columns %s" % missing)
    tsec = sorted(r["tsec"] for r in ride_rows)
    for a, b in zip(tsec, tsec[1:]):
        steps = (b - a) / DISPLAY_DT
        if b <= a or abs(steps - round(steps)) > TOL:
            problems.append("tsec %r -> %r is not a 0.5 s step" % (a, b))
            break
    for r in ride_rows:
        bad = [c for c in CONFIDENCES
               if r.get(c) is not None and not 0.0 <= r[c] <= 1.0]
        if bad:
            problems.append("scores outside [0,1] at tsec %r: %s" % (r["tsec"], bad))
            break
    if exp is not None:
        if len(ride_rows) != exp["display_rows"]:
            problems.append("display rows %d, expected %d"
                            % (len(ride_rows), exp["display_rows"]))
        elif any(abs(a - b) > TOL for a, b in zip(tsec, exp["tsec"])):
            problems.append("tsec values differ from the expected grid")
    return problems


def check_timeline(columns, rows, records):
    """A timeline from `analyze` over the logs in `records`."""
    problems = []
    for c in ("ride_id", "tsec"):
        if c not in columns:
            return ["missing column %s" % c]
    rides = rides_of(columns, rows)
    if len(rides) != len(records):
        problems.append("rides out %d != logs in %d" % (len(rides), len(records)))
    if len(records) == 1 and len(rides) == 1:
        problems += check_ride(next(iter(rides.values())), expected(records[0]))
    else:
        for rid, rr in rides.items():
            problems += ["ride %s: %s" % (rid, p) for p in check_ride(rr)]
    return problems


def _same(a, b):
    if len(a) != len(b):
        return False
    for ra, rb in zip(sorted(a, key=lambda r: r["tsec"]),
                      sorted(b, key=lambda r: r["tsec"])):
        for c in ["tsec"] + CONFIDENCES:
            x, y = ra.get(c), rb.get(c)
            if (x is None) != (y is None) or (x is not None and abs(x - y) > TOL):
                return False
    return True


def rides_matching(columns, rows, refs):
    """Rides of a multi-log timeline equal to a distinct single-log result.

    `refs` holds one (columns, rows) timeline per log, each analysed alone.
    Rides are matched on content, not on their ids.
    """
    unmatched = [next(iter(rides_of(c, r).values()), []) for c, r in refs]
    ok = 0
    for ride in rides_of(columns, rows).values():
        for i, ref in enumerate(unmatched):
            if ref is not None and _same(ride, ref):
                unmatched[i] = None
                ok += 1
                break
    return ok


def check_figure(figure_text, refresh_text, rec):
    """`/figure` after an upload: 13 bar traces over the new ride's rows."""
    exp = expected(rec)
    try:
        fig = json.loads(figure_text)
        refresh = json.loads(refresh_text)
    except ValueError as e:
        return ["figure or refresh does not parse: %s" % e]
    problems = []
    traces = fig.get("data", [])
    if len(traces) != len(CONFIDENCES):
        problems.append("%d traces, expected %d" % (len(traces), len(CONFIDENCES)))
    for t in traces:
        x = t.get("x", [])
        if len(x) != exp["display_rows"]:
            problems.append("trace %s has %d points, expected %d"
                            % (t.get("name"), len(x), exp["display_rows"]))
            break
        if any(abs(a - b) > TOL for a, b in zip(x, exp["tsec"])):
            problems.append("trace %s x differs from the expected grid" % t.get("name"))
            break
        if any(y is not None and not 0.0 <= y <= 1.0 for y in t.get("y", [])):
            problems.append("trace %s has y outside [0,1]" % t.get("name"))
            break
    if refresh.get("rows") != exp["display_rows"]:
        problems.append("last_refresh rows %r, expected %d"
                        % (refresh.get("rows"), exp["display_rows"]))
    return problems


def check_layers(attrs, records):
    """Row counts of the layer-by-layer run against the logs' records."""
    exps = [expected(r) for r in records]
    want = {"rows_out": sum(r["rows"] for r in records),
            "ride_grid_rows": sorted(e["grid_rows"] for e in exps),
            "windows_out": sum(e["windows"] for e in exps)}
    got = dict(attrs, ride_grid_rows=sorted(attrs.get("ride_grid_rows", [])))
    return ["%s %r, expected %r" % (k, got.get(k), v)
            for k, v in want.items() if got.get(k) != v]
