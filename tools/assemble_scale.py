"""Assemble SCALE_r{N}.json from this round's sweep logs.

Round-agnostic (it replaces the per-round assemblers) and carries the
round-13 advice hygiene fixes: explicit ``is not None`` checks (a
legitimate 0.0 sec is no longer conflated with missing), file handles
closed via ``with``, and malformed rows carrying ``secs: []`` but a
stale scalar ``sec`` no longer fall through to the single-sample
branch. Per (query, sf) the headline ``sec`` is the MIN over every
sample in every run (independent JVMs, multi-pass — the host-noise
protocol's estimator); all samples + host-speed probes are archived
per row. Ratios are reported for every consecutive SF pair, and the
HEADLINE ratio summary uses sf30 as the base when present (round-13
verdict: sf10 is too small a denominator for sub-15 s rows — fixed
costs manufacture fake superlinearity).

    python tools/assemble_scale.py /tmp/sweep_sf30*.log \
        /tmp/sweep_sf100*.log > SCALE_r14.json
"""

from __future__ import annotations

import json
import statistics
import sys

HEADLINE_BASE = "sf30"


def _samples(row: dict) -> tuple[list[float], list[float]]:
    """All timing samples in a sweep row, with their cpu probes.

    Prefer the multi-sample ``secs`` list whenever the key exists
    (even empty — a malformed row must not resurrect a stale scalar);
    fall back to the single-sample scalar form only when ``secs`` is
    absent entirely.
    """
    if "secs" in row:
        secs = [s for s in row["secs"] if s is not None]
        probes = [p for p in row.get("probes_ms", []) if p is not None]
        return secs, probes
    if row.get("sec") is None:
        return [], []
    probe = row.get("probe_ms")
    return [row["sec"]], ([probe] if probe is not None else [])


def main() -> int:
    runs = []
    extras: list[tuple[str, str]] = []
    paths: list[str] = []
    argv = sys.argv[1:]
    while argv:
        a = argv.pop(0)
        if a == "--extra":
            # --extra section_name=artifact.json embeds that artifact
            # verbatim as a top-level section (r14: streaming sweep +
            # ANN recall results ride in the same SCALE artifact).
            name, _, p = argv.pop(0).partition("=")
            extras.append((name, p))
        else:
            paths.append(a)
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.startswith('{"sf_dir"'):
                    runs.append((path, json.loads(line)))

    by_sf: dict[str, dict] = {}
    for path, run in runs:
        sf_key = f"sf{run['sf']:g}"
        agg = by_sf.setdefault(sf_key, {"queries": {}, "runs": []})
        agg["runs"].append(
            {
                "log": path,
                "env": run.get("env"),
                "shuffle_partitions": run.get("shuffle_partitions"),
                "skipped_by_policy": run.get("skipped_by_policy", []),
            }
        )
        for name, row in run["queries"].items():
            q = agg["queries"].setdefault(
                name,
                {"secs": [], "probes_ms": [], "io_probes_ms": [],
                 "rows": None},
            )
            if row.get("skipped"):
                q["skipped"] = row["skipped"]
                q["reason"] = row.get("reason")
                continue
            secs, probes = _samples(row)
            q["secs"] += secs
            q["probes_ms"] += probes
            q["io_probes_ms"] += row.get("io_probes_ms", [])
            if row.get("rows") is not None:
                q["rows"] = row["rows"]
            if row.get("ok") is not None:
                q["ok"] = (
                    row["ok"]
                    if q.get("ok") is None
                    else (q["ok"] and row["ok"])
                )
        for name, q in agg["queries"].items():
            if q["secs"]:
                q["sec"] = min(q["secs"])

    out: dict = {
        "protocol": (
            "per-(query, sf) sec = min over all samples from every"
            " sweep run this round (independent JVMs, multi-pass; min"
            " because hypervisor-neighbor noise only ever ADDS time —"
            " per-row cpu probes and 64 MB write+fsync io probes"
            " archived so dirty windows are inspectable). Headline"
            " ratio base is sf30 (round-13 verdict: sf10 fixed costs"
            " fake superlinearity on sub-15 s rows)."
        ),
        "headline_ratio_base": HEADLINE_BASE,
    }
    sf_keys = sorted(by_sf, key=lambda k: float(k[2:]))
    for sf_key in sf_keys:
        out[sf_key] = by_sf[sf_key]

    for lo, hi in zip(sf_keys, sf_keys[1:]):
        ratios = {}
        for name, q in by_sf[hi]["queries"].items():
            ql = by_sf[lo]["queries"].get(name)
            if (
                q.get("sec") is not None
                and ql is not None
                and ql.get("sec") is not None
                and ql["sec"] > 0
            ):
                ratios[name] = round(q["sec"] / ql["sec"], 2)
        out[f"ratios_{hi}_over_{lo}"] = ratios
        vals = sorted(ratios.values())
        if vals:
            summary = {
                "n": len(vals),
                "median": round(statistics.median(vals), 2),
                "max": vals[-1],
                "data_ratio": float(hi[2:]) / float(lo[2:]),
            }
            out[f"ratio_summary_{hi}_over_{lo}"] = summary
            if lo == HEADLINE_BASE:
                out["headline_ratio_summary"] = dict(
                    summary, pair=f"{hi}_over_{lo}"
                )

    for name, p in extras:
        with open(p, encoding="utf-8") as fh:
            out[name] = json.load(fh)

    json.dump(out, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
