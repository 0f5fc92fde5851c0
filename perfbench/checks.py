"""Output checks: compare what a harness run observed with what it
must equal. Each check returns ``{"name", "ok", "detail"}``."""


def _check(name, ok, detail):
    return {"name": name, "ok": bool(ok), "detail": detail}


def _differing(a, b):
    return [i for i, (x, y) in enumerate(zip(a or [], b or [])) if x != y]


def _forest_check(name, rows, trees):
    return _check(name, rows is not None and set(rows) == {str(trees)},
                  {"rows_per_chunk": rows, "num_trees": trees})


def _equal_check(name, a, b):
    return _check(name, a is not None and a == b, {"got": a, "want": b})


def chat_query(obs):
    prepared, unprepared = obs.get("prepared"), obs.get("unprepared")
    out = [_check("prepared answers equal unprepared answers",
                  bool(prepared) and prepared == unprepared,
                  {"differing": _differing(prepared, unprepared), "n": len(prepared or [])}),
           _forest_check("every chunk of the served index has NumTrees forest rows",
                         obs.get("forest_rows_per_chunk"), obs.get("num_trees"))]
    if "traced" in obs:
        out.append(_check("traced query equals ChatPipeline.query", obs["traced"] == prepared,
                          {"differing": _differing(obs["traced"], prepared)}))
    if "traced_digest" in obs:
        out.append(_equal_check("traced build equals ChatPipeline.index",
                                obs["traced_digest"], obs.get("untraced_digest")))
        out.append(_forest_check("every chunk of the refreshed index has NumTrees forest rows",
                                 obs.get("refreshed_forest_rows_per_chunk"), obs.get("num_trees")))
        out.append(_equal_check("refreshed index equals a fresh build of the edited repo",
                                obs.get("refreshed_digest"), obs.get("fresh_digest")))
    return out


def corpus_batch(obs, recorded):
    """``recorded``: the digests recorded for this seed and size, or None
    when none were recorded (then the timed passes are only compared
    with each other)."""
    digests = obs.get("digests") or {}
    timed = obs.get("timed_curated") or []
    out = [_check("every query returned a digest", len(digests) == 8 and all(digests.values()),
                  {"queries": sorted(digests)}),
           _check("every timed pass wrote the same curated rows",
                  timed and all(timed) and len(set(timed)) == 1, {"timed_passes": timed})]
    report = obs.get("curation_report") or []
    bad_rows = [r for r in report if not r[1] >= r[2] >= r[3] >= r[4] >= 0]
    out.append(_check("curation report: docs >= quality >= deduped >= written, per source",
                      report and not bad_rows, {"bad_rows": bad_rows, "sources": len(report)}))
    out.append(_check("curation wrote the rows its report counts",
                      report and sum(r[4] for r in report) == obs.get("written_rows"),
                      {"report": sum(r[4] for r in report), "written": obs.get("written_rows")}))
    if recorded is not None:
        got = observed_digests(obs)
        bad = sorted(k for k in set(recorded) | set(got) if recorded.get(k) != got.get(k))
        out.append(_check("row-set digests equal those recorded for this seed", not bad,
                          {"differing": {k: [recorded.get(k), got.get(k)] for k in bad}}))
    return out


def observed_digests(obs):
    """The digests a corpus_batch run is compared on: every query's
    output and the curated rows of the first timed pass."""
    timed = obs.get("timed_curated") or [None]
    return {**(obs.get("digests") or {}), "curation_written": timed[0]}
