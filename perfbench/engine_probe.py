"""In-process engine phase probe: decode -> preparse -> parse -> cascade ->
serialize, timed per document from outside on one core.

The phases are the public pieces ``engine.clean_html`` composes.  Every
sampled document is also run through ``clean_html`` itself and the composed
result must match it byte for byte (text, error, rules fired), so the probe
provably times the same program the Spark UDF runs.
"""

from __future__ import annotations

import random
import time

from htmlcleanup_spark.engine import DEFAULT_RULES, clean_html
from htmlcleanup_spark.engine.cascade import CascadeEngine
from htmlcleanup_spark.engine.charset import decode_html
from htmlcleanup_spark.engine.dom import parse
from htmlcleanup_spark.engine.preparse import preparse

PHASES = ("decode", "preparse", "parse", "cascade", "serialize")


def sample(items: list, seed: int, per_class: dict, size_class) -> list:
    """Seeded sample of (url, html) items with a fixed count per size class."""
    rng = random.Random(seed ^ 0x5EED)
    by_class = {}
    for it in items:
        by_class.setdefault(size_class(len(it[1])), []).append(it)
    out = []
    for c, n in sorted(per_class.items()):
        pool = by_class.get(c, [])
        out.extend(rng.sample(pool, min(n, len(pool))))
    return out


def _composed(raw: bytes, rules, clock):
    """clean_html's steps, one phase at a time; returns (text, error, fired,
    {phase: seconds})."""
    t = {}
    t0 = clock()
    html, _charset, err = decode_html(raw)
    t["decode"] = clock() - t0
    if html is None:
        return None, err, {}, t
    try:
        t0 = clock()
        repaired = preparse(html, rules.font_faces_to_remove)
        t["preparse"] = clock() - t0
        t0 = clock()
        dom = parse(repaired)
        t["parse"] = clock() - t0
        t0 = clock()
        engine = CascadeEngine(rules)
        doc = engine.run(dom)
        t["cascade"] = clock() - t0
        t0 = clock()
        out = str(doc).replace("<br />", "<br>")
        t["serialize"] = clock() - t0
    except Exception as exc:  # noqa: BLE001 -- mirrors clean_html's error row
        return None, "%s: %s" % (type(exc).__name__, exc), {}, t
    fired = dict(engine.fired)
    if repaired != html.replace("\r\n", "\n"):
        fired["p_preparse"] = 1
    return out, None, fired, t


def run(items: list, rules=DEFAULT_RULES) -> dict:
    """Time the phases over ``items`` ((url, html bytes)).  Returns the
    per-layer metrics and ``mismatches``: urls whose composed output differs
    from clean_html's."""
    totals = dict.fromkeys(PHASES, 0.0)
    fired_total = 0
    errors = 0
    mismatches = []
    nbytes = 0
    for url, raw in items:
        text, err, fired, t = _composed(raw, rules, time.perf_counter)
        for k, v in t.items():
            totals[k] += v
        nbytes += len(raw)
        ref = clean_html(raw, rules)
        if (text, err) != (ref.text, ref.error) or (
                err is None and fired != ref.rules_fired):
            mismatches.append(url)
        if err is not None:
            errors += 1
        fired_total += sum(fired.values())
    busy = sum(totals.values())
    metrics = {"engine.%s_s" % k: v for k, v in totals.items()}
    metrics["engine.mb_per_core_s"] = (nbytes / 1e6) / busy if busy else 0.0
    metrics["engine.rules_fired"] = fired_total
    metrics["engine.errors"] = errors
    return {"metrics": metrics, "mismatches": mismatches, "docs": len(items),
            "bytes": nbytes}
