"""ES ``query_string`` / Kibana search-bar mini-DSL, compiled onto the
bool/WAND engine.

The reference plugin feeds analyzers into Elasticsearch, whose users
reach them through the Lucene query-string syntax (the default
``q=`` of ``_search`` and the Kibana bar). This module implements the
FLAT subset of that grammar — the part users actually type — and
compiles it to one :class:`synspark.query.QueryPlan` bool query plus
a metadata predicate, served by the existing shard-parallel block-max
WAND (`synspark/query.py`). Reference anchor: the plugin's own README
demos query_string bodies against the ngram_synonym analyzer
(reference README.md:60-114); the grammar itself is public Lucene
``QueryParser`` syntax.

Grammar (whitespace-separated clauses; no parentheses / AND / OR /
NOT keywords — use ``+`` / ``-`` and ``default_operator``):

- ``tok``        bare clause — occur from ``default_operator``
                 ("or" → should, "and" → must); multi-word text is
                 analyzed into per-position groups, each its own
                 clause (exactly an ES ``match`` clause);
- ``+tok``       must, ``-tok`` must_not;
- ``"a b"``      phrase (``"a b"~N`` with slop N). POSITIVE phrases
                 are REQUIRED: the clause both gates (adjacency
                 verified per shard, MultiPhraseQuery semantics) and
                 scores (BM25 over its per-position groups — the same
                 contract as ``search(phrase=True)``). ``-"a b"``
                 excludes phrase-matching docs. Deviation from
                 Lucene, documented: an optional (should) phrase
                 under default_operator=or is promoted to must
                 unless ``optional_phrases=True``. Sloppy phrases
                 (slop > 0) have exactly two positions;
- ``tok*``       prefix query — dictionary expansion capped at
                 ``max_expansions`` (top-df first, the Lucene
                 top_terms rewrite), served as ONE blended group:
                 idf of the max-df expansion, tf summed over
                 expansions (SynonymQuery / blended rewrite shape);
- ``tok~`` / ``tok~N``  fuzzy (AUTO / N edits), same blended-group
                 rewrite as prefix;
- ``tok^2.5`` / ``"a b"^2`` / ``tok*^3``  clause boost (> 0);
- ``field:val``  metadata filter on a docmap column (repo, path,
                 commit, lang, ...): FILTER context — gates, never
                 scores, never touches idf/avgdl (exactly the ES
                 filter-vs-query split). ``-field:val`` negates.
                 ``field:val*`` is a prefix (LIKE) filter;
                 ``field:"a b"`` quotes the value. Unknown fields
                 raise (strict mappings);
- ``\\x``        escapes any character in bare tokens and phrases.

Scale shape: term/prefix/fuzzy clauses ride the WAND plan unchanged
(expansion caps bound the plan's term lists). Every phrase —
must, must_not or optional, any slop — is a run of the plan's groups
(``QueryPlan.phrase_runs``) verified per window inside the WAND
workers, so a query_string is ONE grouped-map pass: no phrase id set
is ever materialized or routed. Metadata predicates push down into
the docmap parquet scan and reach the workers as the doc-values
allowlist.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .index_store import IndexStore
from .multiterm import fuzzy_terms
from .query import (_check_slop_arity, _wand_topk, analyze_query,
                    plan_bool, prefix_terms)
from .synonyms import SynonymDict
from .tokenizer import TokenizerConfig

META_FIELDS = ("repo", "path", "commit", "lang")


@dataclass
class QSClause:
    """One parsed query_string clause."""
    occur: str | None          # '+' must, '-' must_not, None → default
    kind: str                  # term | phrase | prefix | fuzzy | meta
    text: str                  # clause text (unescaped)
    boost: float = 1.0
    slop: int = 0              # phrase only
    fuzziness: int | None = None   # fuzzy only; None = ES AUTO
    field: str = ""            # meta only
    meta_prefix: bool = False  # meta only: trailing-* LIKE filter


_TOKEN_RE = re.compile(r"""
    \s*
    (?P<occur>[+-])?
    (?:(?P<field>[A-Za-z_][A-Za-z0-9_.]*):)?
    (?:
        "(?P<phrase>(?:[^"\\]|\\.)*)"
        (?:~(?P<slop>\d+))?
      |
        (?P<term>(?:[^\s"\\^~+-]|\\.)(?:[^\s"\\^~]|\\.)*)
        (?:~(?P<fuzz>\d*))?
    )
    (?:\^(?P<boost>\d+(?:\.\d+)?))?
    (?=\s|$)
""", re.X)


def _unescape(s: str) -> str:
    return re.sub(r"\\(.)", r"\1", s)


def parse_query_string(qs: str,
                       metadata_fields=META_FIELDS) -> list[QSClause]:
    """Parse the flat query_string grammar into clauses. Raises
    ``ValueError`` on syntax errors (unterminated quote, stray
    operator, empty clause, unknown field) — ES query_string is
    strict the same way."""
    out: list[QSClause] = []
    pos = 0
    qs = qs.strip()
    while pos < len(qs):
        m = _TOKEN_RE.match(qs, pos)
        if m is None:
            raise ValueError(
                f"query_string syntax error at offset {pos}: "
                f"{qs[pos:pos + 20]!r}")
        pos = m.end()
        occur = {"+": "must", "-": "must_not",
                 None: None}[m.group("occur")]
        boost = float(m.group("boost")) if m.group("boost") else 1.0
        if boost <= 0:
            raise ValueError("clause boost must be > 0")
        fld = m.group("field") or ""
        if m.group("phrase") is not None:
            text = _unescape(m.group("phrase"))
            if not text.strip():
                raise ValueError("empty phrase")
            if fld:
                out.append(QSClause(occur, "meta", text, boost,
                                    field=fld))
            else:
                out.append(QSClause(occur, "phrase", text, boost,
                                    slop=int(m.group("slop") or 0)))
            continue
        raw = m.group("term")
        fuzz = m.group("fuzz")
        if fld:
            if fuzz is not None:
                raise ValueError("fuzzy metadata filters are not "
                                 "supported (field:value~N)")
            mp = raw.endswith("*") and not raw.endswith("\\*")
            out.append(QSClause(occur, "meta",
                                _unescape(raw[:-1] if mp else raw),
                                boost, field=fld, meta_prefix=mp))
            continue
        if fuzz is not None:
            term = _unescape(raw)
            out.append(QSClause(occur, "fuzzy", term, boost,
                                fuzziness=(int(fuzz) if fuzz else
                                           None)))
        elif raw.endswith("*") and not raw.endswith("\\*"):
            stem = _unescape(raw[:-1])
            if not stem:
                raise ValueError("bare '*' is match_all — unbounded; "
                                 "give a prefix stem")
            if "*" in stem:
                raise ValueError("only trailing-* prefix patterns "
                                 "are supported; use search_wildcard "
                                 "for general wildcards")
            out.append(QSClause(occur, "prefix", stem, boost))
        else:
            out.append(QSClause(occur, "term", _unescape(raw), boost))
    for c in out:
        if c.kind == "meta" and c.field not in metadata_fields:
            raise ValueError(f"unknown metadata field {c.field!r}; "
                             f"known: {sorted(metadata_fields)}")
    return out


def _sql_quote(v: str) -> str:
    """Spark SQL string literal: Spark's literal parser treats
    backslash as an escape, so both it and the quote must be doubled
    for the value to round-trip."""
    return "'" + v.replace("\\", "\\\\").replace("'", r"\'") + "'"


def _meta_pred(c: QSClause) -> str:
    """One metadata clause → a Spark SQL predicate over docmap
    columns (pushes down into the docmap parquet scan)."""
    if c.meta_prefix:
        like = c.text.replace("\\", "\\\\").replace("%", r"\%") \
                     .replace("_", r"\_")
        p = f"{c.field} LIKE {_sql_quote(like + '%')}"
    else:
        p = f"{c.field} = {_sql_quote(c.text)}"
    return f"NOT ({p})" if c.occur == "must_not" else p


def compile_query_string(spark: SparkSession, store: IndexStore,
                         qs: str, default_operator: str = "or",
                         max_expansions: int = 50,
                         syn: SynonymDict | None = None,
                         cfg: TokenizerConfig | None = None,
                         doc_where: str | None = None,
                         keep_optional_phrases: bool = False):
    """Parse + compile to ``(plan, doc_where)`` — or ``None`` when an
    empty required expansion proves the query matches nothing (a must
    prefix/fuzzy with no dictionary terms, a required phrase that
    analyzes to nothing).

    Every phrase, whatever its occur and slop, pre-analyzes to its
    per-position groups before any Spark job; the plan records each
    phrase's contiguous group slice and slop in ``plan.phrase_runs``,
    and the WAND workers verify it inside the ONE grouped-map pass
    (the Lucene SloppyPhraseMatcher-in-the-scorer shape): the
    token-graph walk of ``phrase=True`` at slop 0, the two-position
    move-distance test of ``match_ids(slop=N)`` above it. The same
    groups fold in the same order as the equivalent ``plan_bool``, so
    scores are that plan's.

    ``keep_optional_phrases=True`` (optional-phrase mode): bare
    phrases under default_operator='or' are NOT promoted to must; they
    become 's' runs, scored in-worker only when they verify."""
    if default_operator not in ("or", "and"):
        raise ValueError("default_operator must be 'or' or 'and'")
    bare = "must" if default_operator == "and" else "should"
    clauses = parse_query_string(qs)
    if not clauses:
        raise ValueError("empty query_string")
    meta_cfg = cfg or TokenizerConfig(**store.meta().cfg)
    must, should, must_not = [], [], []
    bucket = {"must": must, "should": should, "must_not": must_not}
    # phrase runs per bucket: (offset, n_groups, slop) into that
    # bucket's pre-expanded group list
    runs_in = {"must": [], "should": [], "must_not": []}
    preds: list[str] = []
    dropped_scoring = 0   # positive clauses whose expansion was empty
    for c in clauses:
        occur = c.occur or bare
        if c.kind == "meta":
            # filter context, whatever the operator (a should-meta
            # term would score 0 in ES anyway for practical purposes;
            # strictness documented in the module docstring)
            preds.append(_meta_pred(c))
            continue
        if c.kind == "phrase":
            pgroups = analyze_query(c.text, meta_cfg, syn)
            if occur == "should" and not keep_optional_phrases:
                occur = "must"           # non-optional positive: promote
            if not pgroups:
                if occur == "must":
                    return None          # required phrase matches nothing
                if occur == "should":
                    dropped_scoring += 1
                continue                 # vacuous must_not / optional
            if c.slop:
                _check_slop_arity(len(pgroups))
            runs_in[occur].append((len(bucket[occur]), len(pgroups),
                                   c.slop))
            bucket[occur].extend((g, c.boost) for g in pgroups)
            continue
        if c.kind == "prefix":
            terms = prefix_terms(spark, store, c.text, max_expansions)
        elif c.kind == "fuzzy":
            terms = [t for t, _d in
                     fuzzy_terms(spark, store, c.text, c.fuzziness,
                                 max_expansions=max_expansions)]
        else:
            bucket[occur].extend(
                (g, c.boost)
                for g in analyze_query(c.text, meta_cfg, syn))
            continue
        if not terms:
            if occur == "must":
                return None            # required clause matches nothing
            if occur == "should":
                dropped_scoring += 1   # vacuous optional clause
            continue                   # vacuous should / must_not
        bucket[occur].append((terms, c.boost))
    if not (must or should):
        if dropped_scoring:
            # the user DID give scoring clauses — they just expand to
            # nothing ('zzzz*' with no matching dictionary term). ES
            # returns 0 hits, not an error
            return None
        raise ValueError(
            "query_string needs at least one scoring clause (pure "
            "must_not / filter queries have no ranking signal — ES "
            "gives every doc score 0; use match_ids for those)")
    plan = plan_bool(spark, store, must or None, should or None,
                     must_not or None, syn=syn, cfg=cfg)
    # bucket-local run offsets -> global group indices (plan_bool
    # orders groups must, should, must_not)
    shift = {"must": 0, "should": len(must),
             "must_not": len(must) + len(should)}
    plan.phrase_runs = [(shift[o] + off, n, sl)
                        for o in ("must", "should", "must_not")
                        for off, n, sl in runs_in[o]] or None
    where = " AND ".join(f"({p})" for p in preds) if preds else None
    if doc_where is not None:
        where = f"({doc_where})" if where is None \
            else f"{where} AND ({doc_where})"
    return plan, where


def query_string(spark: SparkSession, store: IndexStore, qs: str,
                 k: int = 10, default_operator: str = "or",
                 max_expansions: int = 50,
                 syn: SynonymDict | None = None,
                 cfg: TokenizerConfig | None = None,
                 doc_where: str | None = None,
                 after: tuple | None = None,
                 optional_phrases: bool = False) -> DataFrame:
    """Ranked BM25 top-k for a query_string (grammar in the module
    docstring), served by ONE block-max WAND grouped map whatever the
    clauses: phrases of every occur and slop are verified inside its
    workers. ``doc_where`` ANDs an extra metadata predicate onto any
    ``field:value`` clauses; ``after=(score, doc_id)`` is search_after
    pagination, same contract as ``search``.

    ``optional_phrases=True`` removes the documented deviation: bare
    phrases under default_operator='or' stay OPTIONAL — a doc can
    rank on its other clauses alone, and an adjacency-verified phrase
    adds its gram scores on top (true Lucene OR semantics). Its
    groups' bounds add to the WAND window bound, which stays an upper
    bound because a phrase only adds score when it verifies."""
    compiled = compile_query_string(
        spark, store, qs, default_operator, max_expansions, syn, cfg,
        doc_where, keep_optional_phrases=optional_phrases)
    if compiled is None:
        return spark.createDataFrame([], "doc_id long, score double")
    plan, where = compiled
    return _wand_topk(spark, store, store.meta(), plan, k, "or", False,
                      after, where)
