"""Summary statistics and trace arithmetic for the benchmark record."""
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# Percentiles a tail is reported at; the highest one with at least ten
# samples beyond it is used.
LADDER = (0.5, 0.75, 0.9, 0.95, 0.99, 0.999)


def median(values):
    v = sorted(values)
    n = len(v)
    if n == 0:
        return None
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2.0


def tail_level(n, beyond=10):
    """The highest percentile of LADDER that leaves at least `beyond` of
    `n` samples above it, or None when even the median does not."""
    best = None
    for p in LADDER:
        if n * (1.0 - p) >= beyond - 1e-9:
            best = p
    return best


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least a share
    `p` of the samples at or below it."""
    v = sorted(values)
    if not v:
        return None
    k = max(0, math.ceil(p * len(v)) - 1)
    return v[k]


def tail(values, beyond=10):
    """(level, value) of the highest percentile with `beyond` samples above
    it, or (None, None)."""
    p = tail_level(len(values), beyond)
    return (p, percentile(values, p)) if p is not None else (None, None)


def geomean(values):
    v = [x for x in values if x > 0]
    return math.exp(sum(math.log(x) for x in v) / len(v)) if v else None


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    covered by its children. `spans` are (id, parent, name, op, start, end)."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    out = {}
    for s in spans:
        sid, _, _, _, start, end = s
        covered = 0
        cur_lo = cur_hi = None
        for c in sorted(children.get(sid, []), key=lambda c: c[4]):
            lo, hi = max(c[4], start), min(c[5], end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[sid] = (end - start) - covered
    return out


def self_time_by_layer(spans):
    """Total self time per layer (the span-name prefix before the first dot)."""
    st = self_times(spans)
    total = {}
    for s in spans:
        layer = s[2].split(".", 1)[0]
        total[layer] = total.get(layer, 0) + st[s[0]]
    return total


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))
