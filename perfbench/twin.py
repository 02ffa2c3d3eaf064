"""Expected outputs from the pure-Python twin of the KG pipeline.

Built once per seed in set-up. Mentions come from
``oracle_pipeline.oracle_mentions`` (or, for the model workload, from a
mention list already checked against the model); normalization is the
``DictNormalizer`` top-1 rule; pairing and counting are
``ade_pairs_from_lists``. Everything is grouped by url here, in one pass,
rather than through ``oracle_triples``, whose url list membership test is
quadratic in the number of pages.
"""

from __future__ import annotations

from collections import defaultdict

from bert_namedentityrecognition_spark.oracle.ade import ade_pairs_from_lists
from bert_namedentityrecognition_spark.oracle.normalize import DictNormalizer
from bert_namedentityrecognition_spark.oracle.textproc import han_to_zen

PRED = "HAS_ADVERSE_EVENT"
THRESHOLD = 70.0
MENTION_COLS = ("url", "sent_id", "start", "end", "type", "word")


class Normalizer:
    """(word, type) → (canonical, entity_id) under the pipeline's rules:
    han_to_zen both sides, exact surface hit, else ``DictNormalizer``
    top-1 by indel ratio over the same kind, accepted iff score > 70.

    Candidates whose length alone bounds the ratio at or below the
    threshold can never be accepted, so each query length scores only the
    surfaces that can: the accepted canonical is unchanged."""

    def __init__(self, dim: list[dict]):
        self.rows = {}
        self.by_kind: dict[str, dict[int, list[str]]] = defaultdict(lambda: defaultdict(list))
        for r in dim:
            s = han_to_zen(r["surface"])
            self.rows[(s, r["kind"])] = r
            self.by_kind[r["kind"]][len(s)].append(s)
        self._normalizers: dict[tuple[str, int], DictNormalizer] = {}
        self.cache: dict[tuple[str, str], tuple[str, str | None, str]] = {}

    def _fuzzy(self, kind: str, lw: int) -> DictNormalizer:
        key = (kind, lw)
        if key not in self._normalizers:
            cands = {
                s
                for ls, surfaces in self.by_kind[kind].items()
                if 200.0 * min(lw, ls) / (lw + ls) > THRESHOLD
                for s in surfaces
            }
            self._normalizers[key] = DictNormalizer(cands, threshold=THRESHOLD)
        return self._normalizers[key]

    def __call__(self, word: str, mtype: str) -> tuple[str, str | None, str]:
        """(canonical, entity_id, method); canonical '' is the sentinel."""
        key = (word, mtype)
        if key not in self.cache:
            wn = han_to_zen(word)
            hit = self.rows.get((wn, mtype))
            if hit is not None:
                self.cache[key] = (hit["canonical"], hit["entity_id"], "exact")
            else:
                surface, _ = self._fuzzy(mtype, len(wn)).normalize(wn)
                row = self.rows.get((surface, mtype)) if surface else None
                self.cache[key] = (
                    (row["canonical"], row["entity_id"], "fuzzy") if row else ("", None, "sentinel")
                )
        return self.cache[key]


def alias_representatives(alias_edges: list[dict], dim: list[dict]) -> dict[str, str]:
    """surface → representative of its alias component: the smallest
    member that is a dimension surface, else the smallest member."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for e in alias_edges:
        ra, rb = find(e["src"]), find(e["dst"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict[str, list[str]] = defaultdict(list)
    for x in list(parent):
        members[find(x)].append(x)
    in_dim = {r["surface"] for r in dim}
    rep = {}
    for group in members.values():
        dim_members = [m for m in group if m in in_dim]
        r = min(dim_members) if dim_members else min(group)
        for m in group:
            rep[m] = r
    return rep


class Twin:
    """Expected triples, nodes and edges for one mention list."""

    def __init__(self, mentions: list[tuple], dim: list[dict], alias_edges: list[dict] | None):
        self.mentions = sorted(mentions)
        norm = Normalizer(dim)
        rep = alias_representatives(alias_edges or [], dim)
        id_of = {(r["surface"], r["kind"]): r["entity_id"] for r in dim}

        def resolve(word: str, mtype: str) -> tuple[str, str | None, str]:
            canonical, eid, method = norm(word, mtype)
            if canonical in rep:
                canonical = rep[canonical]
                eid = id_of.get((canonical, mtype))
            return canonical, eid, method

        drugs: dict[str, list[str]] = defaultdict(list)
        syms: dict[str, list[str]] = defaultdict(list)
        node_mentions: dict[tuple, int] = defaultdict(int)
        node_docs: dict[tuple, set] = defaultdict(set)
        for url, _sid, _s, _e, mtype, word in self.mentions:
            (drugs if mtype == "drug" else syms)[url].append(word)
            canonical, eid, _ = resolve(word, mtype)
            if canonical:
                node_mentions[(eid, canonical, mtype)] += 1
                node_docs[(eid, canonical, mtype)].add(url)
        urls = sorted(set(drugs) | set(syms))
        counts = ade_pairs_from_lists(
            [drugs[u] for u in urls],
            [syms[u] for u in urls],
            remove_duplicates=True,
            normalize=lambda w: resolve(w, "symptom")[0],
        )
        self.triples = sorted((s, PRED, o, c) for (s, o), c in counts.items())
        self.nodes = sorted(
            (k[0], k[1], k[2], n, len(node_docs[k])) for k, n in node_mentions.items()
        )
        surf_id = {r["surface"]: r["entity_id"] for r in dim}
        canon_id = {r["canonical"]: r["entity_id"] for r in dim}
        self.edges = sorted(
            (surf_id.get(s, "SURF:" + s), p, canon_id.get(o, "SURF:" + o), s, o, c)
            for s, p, o, c in self.triples
        )
        distinct = {(w, t) for *_, t, w in self.mentions}
        methods = [
            "sentinel" if norm(w, t)[0] == "" else norm(w, t)[2] for w, t in distinct
        ]
        self.descriptors = {
            "mentions": len(self.mentions),
            "distinct_surfaces": len(distinct),
            "exact_surfaces": methods.count("exact"),
            "fuzzy_surfaces": methods.count("fuzzy"),
            "sentinel_surfaces": methods.count("sentinel"),
            "triples": len(self.triples),
            "triple_total": sum(c for *_, c in self.triples),
            "hot_cell_share": (
                max(c for *_, c in self.triples) / sum(c for *_, c in self.triples)
                if self.triples
                else 0.0
            ),
        }


def oracle_mention_tuples(pages: list[dict], term_types: dict[str, str]) -> list[tuple]:
    from bert_namedentityrecognition_spark.plans.oracle_pipeline import oracle_mentions

    return [tuple(m[c] for c in MENTION_COLS) for m in oracle_mentions(pages, term_types)]


def rows_of(pdf, cols) -> list[tuple]:
    """Sorted plain-Python tuples of a pandas frame's columns."""
    return sorted(
        tuple(v.item() if hasattr(v, "item") else v for v in row)
        for row in pdf[list(cols)].itertuples(index=False, name=None)
    )


def diff(name: str, got: list[tuple], want: list[tuple]) -> list[str]:
    """Empty when equal, else one line naming the first differences."""
    if got == want:
        return []
    gs, ws = set(got), set(want)
    return [
        f"{name}: {len(got)} rows vs {len(want)} expected; "
        f"unexpected {sorted(gs - ws)[:3]}, missing {sorted(ws - gs)[:3]}"
    ]
