"""Boolean query language: AND / OR / NOT / parentheses over the index.

The reference serves OR-only bags of words (quirk Q9); §2.6 added AND
and phrase operators. This module completes the classic boolean
frontend: a driver-side recursive-descent parser (queries are tiny
strings — parsing is not a data problem) compiling to DataFrame set
algebra over posting lists, with BM25 ranking of the survivors.

Grammar (case-insensitive keywords, left-associative, standard
precedence NOT > AND > OR):

    expr   := and_e ('OR' and_e)*
    and_e  := unary ('AND' unary)*
    unary  := 'NOT' unary | '(' expr ')' | TERM

Execution shape: every node evaluates to a doc_id RELATION —
term → an isin-pruned postings scan (the dictionary-seek shape,
pushed to PushedFilters on the stored layout); AND → intersect
(shuffle on doc_id ids only); OR → union+distinct; NOT → anti-join
against the enclosing universe (doc_stats — NOT is complement, so it
must see the corpus; a bare `NOT x` query is legal and costs one
doc_stats scan). Ranking: one standard BM25 pass over the query's
POSITIVE terms, semi-joined to the surviving set; survivors matching
no positive term (pure-negation queries) rank last with score 0.0.
Everything that moves is (doc_id)-width; postings are touched only at
the leaves, once per distinct term.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.operators.index_build import InvertedIndex
from search_engine_spark.operators.query import _bm25, _matched, _query_terms

__all__ = ["parse_boolean", "boolean_search"]


@dataclass(frozen=True)
class Node:
    op: str  # 'term' | 'and' | 'or' | 'not'
    term: str | None = None
    kids: tuple["Node", ...] = ()


def parse_boolean(query: str) -> Node:
    """Recursive-descent parse; raises ValueError on malformed input.
    Double-quoted spans parse as PHRASE leaves: '"new york" AND city'
    — the quoted words must appear consecutively (evaluated against
    the positional index; see boolean_search's pos_index param)."""
    import re

    if query.count('"') % 2:
        raise ValueError(f"unbalanced quotes in query: {query!r}")
    # pad parens ONLY outside quoted spans — '"a (b)" AND c' keeps the
    # parens as phrase characters; even split-chunks are outside quotes
    chunks = query.split('"')
    padded = '"'.join(
        c.replace("(", " ( ").replace(")", " ) ") if i % 2 == 0 else c
        for i, c in enumerate(chunks)
    )
    toks = re.findall(r'"[^"]*"|\S+', padded)
    pos = 0

    def peek() -> str | None:
        return toks[pos] if pos < len(toks) else None

    def eat() -> str:
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def expr() -> Node:
        kids = [and_e()]
        while peek() is not None and peek().upper() == "OR":
            eat()
            kids.append(and_e())
        return kids[0] if len(kids) == 1 else Node("or", kids=tuple(kids))

    def and_e() -> Node:
        kids = [unary()]
        while peek() is not None and peek().upper() == "AND":
            eat()
            kids.append(unary())
        return kids[0] if len(kids) == 1 else Node("and", kids=tuple(kids))

    def unary() -> Node:
        t = peek()
        if t is None:
            raise ValueError("unexpected end of query")
        if t.upper() == "NOT":
            eat()
            return Node("not", kids=(unary(),))
        if t == "(":
            eat()
            e = expr()
            if peek() != ")":
                raise ValueError("missing ')'")
            eat()
            return e
        if t == ")" or t.upper() in ("AND", "OR"):
            raise ValueError(f"unexpected token {t!r}")
        if t.startswith('"'):
            inner = eat().strip('"').lower().split()
            if not inner:
                raise ValueError("empty phrase")
            if len(inner) == 1:
                return Node("term", term=inner[0])
            return Node("phrase", term=" ".join(inner))
        return Node("term", term=eat().lower())

    tree = expr()
    if pos != len(toks):
        raise ValueError(f"trailing tokens: {toks[pos:]}")
    return tree


def _positive_terms(node: Node) -> list[str]:
    if node.op == "term":
        return [node.term]
    if node.op == "phrase":
        # phrase words rank like plain terms; the phrase node only
        # CONSTRAINS the candidate set (standard engine behavior)
        return node.term.split()
    if node.op == "not":
        return []
    out: list[str] = []
    for k in node.kids:
        out.extend(_positive_terms(k))
    return sorted(set(out))


def boolean_search(
    index: InvertedIndex,
    spark: SparkSession,
    query: str,
    k: int = 10,
    pos_index: DataFrame | None = None,
) -> DataFrame:
    """(query_id=0, doc_id, score): docs satisfying the boolean
    expression, ranked by BM25 over the query's positive terms
    (0.0 for survivors matching none — possible under pure negation).
    Quoted phrases in the query require `pos_index` (a
    read_positional_index handle); each phrase leaf evaluates to the
    docs containing the exact consecutive phrase via the same
    pushed-filter probes as phrase_search."""
    tree = parse_boolean(query)
    universe = index.doc_stats.select("doc_id")

    def ev(node: Node) -> DataFrame:
        if node.op == "term":
            return (
                index.postings.filter(F.col("term") == node.term)
                .select("doc_id")
                .distinct()
            )
        if node.op == "phrase":
            if pos_index is None:
                raise ValueError(
                    "quoted phrases need pos_index (a materialized "
                    "positional index)"
                )
            from search_engine_spark.operators.phrase import phrase_match

            return phrase_match(pos_index, node.term.split()).select("doc_id")
        if node.op == "and":
            pos = [k_ for k_ in node.kids if k_.op != "not"]
            neg = [k_.kids[0] for k_ in node.kids if k_.op == "not"]
            if pos:
                cur = ev(pos[0])
                for p in pos[1:]:
                    cur = cur.intersect(ev(p))
            else:
                cur = universe
            for n_ in neg:
                cur = cur.join(ev(n_), "doc_id", "left_anti")
            return cur
        if node.op == "or":
            cur = ev(node.kids[0])
            for k_ in node.kids[1:]:
                cur = cur.unionByName(ev(k_))
            return cur.distinct()
        if node.op == "not":
            return universe.join(ev(node.kids[0]), "doc_id", "left_anti")
        raise ValueError(node.op)

    survivors = ev(tree)
    qt, terms = _query_terms(spark, _positive_terms(tree), tokenized=True)
    if terms:
        scored = _bm25(_matched(index, qt, terms)).select("doc_id", "score")
    else:
        scored = spark.createDataFrame([], "doc_id long, score double")
    return (
        survivors.join(scored, "doc_id", "left")
        .select(
            F.lit(0).alias("query_id"),
            "doc_id",
            F.coalesce(F.col("score"), F.lit(0.0)).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
