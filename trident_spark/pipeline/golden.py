"""Independent pure-Python golden for the full KG pipeline.

Recomputes what ``build_kg(pages_df(n), alias_dict)`` must produce — from
the page SPEC (gen_page's expected triples, not the extractor), a
reimplementation of the linking rules, a union-find connected components
(vs Spark's large-star/small-star), and term ids via the pure-Python
Spark-compatible xxhash64 — so the driver can VALUES-oracle the end-to-end
pipeline including linking (C11-C12), CC (C13) and dictionary encoding
(C14).  Everything downstream of the inputs is an independent
implementation of the same semantics.
"""

from __future__ import annotations

from trident_spark.util_xxhash import spark_xxhash64 as _H

_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"


def _tid(kind: str, lex: str, dt: str | None = None,
         lang: str | None = None) -> int:
    """Mirror of kg.term_id: xxhash64(kind, lexical, dt, lang) with an
    absent or xsd:string datatype as '' and the tag lowercased (RDF 1.1:
    a simple literal is an xsd:string one; tags compare
    case-insensitively)."""
    return _H(kind, lex, "" if dt in (None, _XSD_STRING) else dt,
              (lang or "").lower())


def full_pipeline_golden_ids(n_pages: int = 200, seed: int = 42
                             ) -> list[tuple[int, int, int]]:
    """Expected distinct (subj_id, pred_id, obj_id) of build_kg over
    pages_df(n_pages) with the standard alias dictionary."""
    from trident_spark.pipeline.alias_dict import alias_rows
    from trident_spark.pipeline.linking import MENTION_PREDICATES, SAME_AS
    from trident_spark.pipeline.pages import gen_page

    # 1. pages; latest capture per url (must be unambiguous or Spark's
    #    row_number tie-break would be nondeterministic)
    best: dict[str, dict] = {}
    for i in range(1, n_pages + 1):
        p = gen_page(i, seed)
        cur = best.get(p["url"])
        if cur is None or p["warc_ts"] > cur["warc_ts"]:
            best[p["url"]] = p
        elif p["warc_ts"] == cur["warc_ts"]:
            raise AssertionError(f"warc_ts tie on {p['url']}")

    triples: set[tuple] = set()
    for p in best.values():
        for (_url, s, pr, o, kind, dt, lang) in p["expected"]:
            triples.add((s, pr, o, kind, dt, lang))

    # 2. entity linking: mention literals → best alias candidate
    alias: dict[str, list[tuple[str, float]]] = {}
    for a, iri, prior in alias_rows():
        alias.setdefault(a.lower().strip(), []).append((iri, prior))

    same_as: set[tuple] = set()
    for (s, pr, o, kind, dt, lang) in triples:
        if kind != "literal" or pr not in MENTION_PREDICATES:
            continue
        cands = alias.get(o.lower().strip())
        if not cands:
            continue
        # score = 0.7 + 0.3*prior (≥ 0.5 for every prior in this
        # dictionary); top-1 by (score desc, canonical asc)
        top = min(cands, key=lambda c: (-(0.7 + 0.3 * c[1]), c[0]))
        same_as.add((s, SAME_AS, top[0], "iri", None, None))

    all_triples = triples | same_as

    # 3. connected components over sameAs term-id edges (union-find;
    #    representative = min term id, matching cc.connected_components)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for (s, _pr, o, _k, _dt, _lg) in same_as:
        union(_tid("iri", s), _tid("iri", o))

    members: dict[int, list[int]] = {}
    for node in set(parent) | {find(n) for n in parent}:
        members.setdefault(find(node), []).append(node)
    label = {n: min(ms + [root]) for root, ms in members.items() for n in ms}

    # 4. dictionary-encode + rewrite to canonical ids + dedup
    out: set[tuple[int, int, int]] = set()
    for (s, pr, o, kind, dt, lang) in all_triples:
        sid = _tid("iri", s)
        oid = _tid(kind, o, dt, lang)
        out.add((label.get(sid, sid), _tid("iri", pr), label.get(oid, oid)))
    return sorted(out)
