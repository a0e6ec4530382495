"""Driver-side crawl oracle, independent of the crawl engine.

Replays a crawl over the synthetic link graph using only
``synth.outlink_targets`` and the documented round rules: every
selected URL is fetched, its outlinks deeper than ``max_depth`` are
dropped, the rest are deduplicated within the round (smallest depth
wins) and against every URL ever admitted. Each host fetches at most
``budget`` URLs per round in ``(priority desc, url)`` order — every
priority is 0 here, so URL order — and the rest wait in the frontier.
The synthetic corpus never fails a fetch, so every host stays at the
base delay and the budget is the same every round.
"""

from __future__ import annotations

from crawl4ai_spark import synth


def simulate(urls: list[str], seeds: list[int], *, budget: int,
             max_depth: int, max_rounds: int) -> list[dict]:
    """Per-round ``frontier`` / ``selected`` / ``deferred`` /
    ``new_links`` / ``candidates`` counts and selected doc ids."""
    n_docs = len(urls)
    frontier = {i: 0 for i in seeds}
    seen = set(frontier)
    rounds: list[dict] = []
    while frontier and len(rounds) < max_rounds:
        by_host: dict[str, list[tuple[str, int]]] = {}
        for i in frontier:
            by_host.setdefault(urls[i].split("/")[2], []).append((urls[i], i))
        selected, deferred = [], []
        for rows in by_host.values():
            rows.sort()
            selected += [i for _, i in rows[:budget]]
            deferred += [i for _, i in rows[budget:]]
        cand: dict[int, int] = {}
        for i in selected:
            d = frontier[i] + 1
            if d > max_depth:
                continue
            for t in synth.outlink_targets(i, n_docs):
                if d < cand.get(t, max_depth + 1):
                    cand[t] = d
        fresh = {t: d for t, d in cand.items() if t not in seen}
        seen.update(fresh)
        rounds.append({
            "frontier": len(frontier),
            "selected": len(selected),
            "deferred": len(deferred),
            "new_links": len(fresh),
            "candidates": len(cand),
            "docs": selected,
        })
        frontier = {i: frontier[i] for i in deferred}
        frontier.update(fresh)
    return rounds
