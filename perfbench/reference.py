"""Pure-Python reference answers the benchmark checks the engine against.

``Resolver`` reimplements the synonymizer lookups over plain row tuples
(the reference NodeSynonymizer's rules): the CURIE path capitalizes the
prefix and probes ``id_simplified``; the name path simplifies the name
and mode-votes the cluster, ties going to the smallest ``cluster_id``.
"""

from __future__ import annotations

import string
from collections import Counter, defaultdict

_UNNECESSARY = str.maketrans("", "", string.punctuation + string.whitespace)


def capitalize_prefix(curie: str) -> str:
    if ":" not in curie:
        return curie.upper()
    head, rest = curie.split(":", 1)
    return f"{head.upper()}:{rest}"


def simplify_name(name: str) -> str:
    return name.lower().translate(_UNNECESSARY)


def biolink(cat):
    return f"biolink:{cat}" if cat else cat


class Resolver:
    """``nodes``: (id, id_simplified, name, name_simplified, category,
    cluster_id, …) tuples; ``clusters``: (cluster_id, name, category, …)."""

    def __init__(self, nodes, clusters):
        self.by_id = {}
        for n in nodes:
            self.by_id.setdefault(n[1], []).append(n[5])
        self.cluster = {c[0]: (c[1], c[2]) for c in clusters}
        votes: dict[str, Counter] = defaultdict(Counter)
        for n in nodes:
            if n[3] is not None:
                votes[n[3]][n[5]] += 1
        self.by_name = {
            key: min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            for key, cnt in votes.items()
        }

    def _preferred(self, cid):
        name, cat = self.cluster[cid]
        return cid, name, biolink(cat)

    def curie(self, entity: str) -> list[tuple]:
        """Every cluster hit of the CURIE probe (one per matching node)."""
        return [self._preferred(c)
                for c in self.by_id.get(capitalize_prefix(entity), [])]

    def name(self, entity: str):
        cid = self.by_name.get(simplify_name(entity))
        return None if cid is None else self._preferred(cid)

    def lookup(self, entity: str) -> list[tuple]:
        """canonical_lookup rows for one input entity:
        (entity, curie, name, category, matched_via)."""
        by_name = self.name(entity)
        hits = self.curie(entity) or [None]
        out = []
        for h in hits:
            if h is not None:
                out.append((entity, *h, "curie"))
            elif by_name is not None:
                out.append((entity, *by_name, "name"))
            else:
                out.append((entity, None, None, None, None))
        return out
