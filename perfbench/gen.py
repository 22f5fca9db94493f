"""Seeded input generator for the benchmark.

Everything the workloads feed to synspark comes from here: the
source-code corpus (the ``input_hint`` schema: repo, path, commit, lang,
content), the query stream, the ingest batches with their sentinel
tokens and the dedup corpus with planted duplicates. One ``seed`` fixes
every input; two seeds give different inputs with the same properties.

Corpus properties the engine's behaviour depends on:

- code docs use Zipf-hot keywords, so hot bigrams exist, and about a
  third of their words are unique identifiers, so the vocabulary keeps
  growing with the corpus;
- a Japanese share carries the synonym anchors of ``SYNONYM_RULES``;
- doc lengths are log-normal, from a few words to a few hundred.

Generation is pure numpy/pandas on the driver; no Spark is involved.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np
import pandas as pd

SYNONYM_RULES = ("あ,かき\n東京,とうきょう\n大阪,おおさか\n"
                 "data,info\nsort,order\nindex,idx")

# Zipf-hot code vocabulary; the short entries give one-position
# (single bigram or short-block) words, which the slop class needs
KEYWORDS = (
    "in re if is e; )) == != i x def for val var int str len map get set "
    "return import class public static void private final override lazy "
    "match case yield await async lambda filter reduce foreach println "
    "self this super null none true false try except finally raise throw "
    "new delete sizeof template typename struct union enum extern switch"
).split()
SHORT_WORDS = [w for w in KEYWORDS if len(w) <= 2]
LONG_KEYWORDS = [w for w in KEYWORDS if len(w) > 2]
_VERBS = ("get set parse load read write build merge sort scan fetch emit "
          "push pop find make init check apply hash").split()
_NOUNS = ("user config index shard block token query plan cache buffer "
          "node edge file path row batch term score heap page").split()
IDENTS = [f"{v}_{n}" for v in _VERBS for n in _NOUNS] + \
    [f"{v}{n.capitalize()}" for v in _VERBS for n in _NOUNS]
ENGLISH = (
    "the data sort order info index search merge key value table scan "
    "filter join plan cost model edge list node query result cache page "
    "block shard file path read write fast slow large small first last "
    "note todo fixme see also returns raises example usage default"
).split()
JAPANESE = ["東京", "とうきょう", "大阪", "おおさか", "明日は", "行く",
            "あいうえお", "かきくけこ", "さしすせそ", "データ", "検索",
            "索引", "ロンウイット", "あ", "かき"]
LANGS = ["python", "java", "scala", "text"]
_EXTS = {"python": "py", "java": "java", "scala": "scala", "text": "md"}

QUERY_CLASSES = ["and", "or", "or_k1000", "phrase", "count", "bool",
                 "syn", "qs", "qs_slop"]


@lru_cache(maxsize=None)
def _zipf_cdf(n: int, a: float) -> np.ndarray:
    w = np.cumsum(1.0 / np.arange(1, n + 1) ** a)
    return w / w[-1]


def _zipf_pick(rng: np.random.Generator, items: list, size: int,
               a: float = 1.3) -> list:
    """``size`` draws from ``items`` with P(rank k) proportional to
    1 / k**a (a Zipf law truncated to the list)."""
    idx = np.searchsorted(_zipf_cdf(len(items), a), rng.random(size),
                          side="right")
    return [items[min(i, len(items) - 1)] for i in idx]


def _code_doc(rng: np.random.Generator, n_words: int) -> str:
    kinds = rng.random(n_words)
    kw = _zipf_pick(rng, KEYWORDS, n_words)
    ident = _zipf_pick(rng, IDENTS, n_words, a=1.15)
    hexes = rng.integers(0, 1 << 28, size=n_words)
    seps = rng.choice([" ", " ", " ", "\t", "\n"], size=n_words)
    parts = []
    for j in range(n_words):
        if kinds[j] < 0.33:  # unique identifier
            parts.append(f"{ident[j]}_{hexes[j]:x}")
        elif kinds[j] < 0.5:
            parts.append(ident[j])
        else:
            parts.append(kw[j])
        parts.append(seps[j])
    return "".join(parts[:-1])


def _japanese_doc(rng: np.random.Generator, n_words: int) -> str:
    words = _zipf_pick(rng, JAPANESE, max(2, n_words // 4), a=1.2)
    seps = rng.choice(["", "", "　", " "], size=len(words))
    return "".join(w + s for w, s in zip(words, seps)).strip()


def _prose_doc(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(_zipf_pick(rng, ENGLISH, n_words, a=1.2))


def _texts(rng: np.random.Generator, n: int) -> tuple[list, list]:
    """``n`` contents and their langs: 70% code, 15% Japanese, 15% prose."""
    lens = np.clip(rng.lognormal(np.log(40), 0.8, size=n), 3, 400)
    kinds = rng.random(n)
    langs = rng.choice(LANGS[:3], size=n)
    texts, out_langs = [], []
    for i in range(n):
        nw = int(lens[i])
        if kinds[i] < 0.70:
            texts.append(_code_doc(rng, nw))
            out_langs.append(str(langs[i]))
        elif kinds[i] < 0.85:
            texts.append(_japanese_doc(rng, nw))
            out_langs.append("text")
        else:
            texts.append(_prose_doc(rng, nw))
            out_langs.append("text")
    return texts, out_langs


def corpus(seed: int, n_docs: int, tag: str = "base",
           sentinel: str | None = None) -> pd.DataFrame:
    """A source-code table in the ``input_hint`` schema. Keys
    (repo, path, commit) are unique within one ``(seed, tag)``.
    ``sentinel`` is appended to every doc's content, so a query for it
    matches exactly this batch."""
    rng = np.random.default_rng([seed, _tag_int(tag)])
    texts, langs = _texts(rng, n_docs)
    if sentinel is not None:
        texts = [f"{t}\n{sentinel}" for t in texts]
    repos = rng.integers(0, 40, size=n_docs)
    return pd.DataFrame({
        "repo": [f"org{r % 7}/repo{r}" for r in repos],
        "path": [f"src/{tag}/m{i % 13}/f{i}.{_EXTS[lg]}"
                 for i, lg in enumerate(langs)],
        "commit": [hashlib.sha1(f"{seed}:{tag}:{i}".encode()).hexdigest()
                   for i in range(n_docs)],
        "lang": langs,
        "content": texts,
    })


def _tag_int(tag: str) -> int:
    return int.from_bytes(hashlib.sha1(tag.encode()).digest()[:4], "little")


def sentinel_token(seed: int, batch: int) -> str:
    """A token no generated text contains: ``zq`` never occurs in the
    vocabularies above, so its bigrams match the sentinel's batch only."""
    return f"zqsent{seed % 9973}q{batch}zq"


# --------------------------------------------------------------------
# query stream
# --------------------------------------------------------------------

def _adjacent_pair(rng: np.random.Generator, texts: list,
                   langs: list) -> tuple:
    """Two adjacent words of one doc (so the phrase matches) and the
    doc's lang."""
    for _ in range(100):
        d = int(rng.integers(len(texts)))
        words = texts[d].split()
        if len(words) >= 2:
            j = int(rng.integers(len(words) - 1))
            return words[j], words[j + 1], langs[d]
    return "def", "self", LANGS[0]


def _qs_word(w: str) -> str:
    """query_string treats ``: + - " * ~ ^ \\`` and a few more as syntax;
    escape them so a generated word is always a bare term."""
    return "".join("\\" + c if c in '\\+-"*~^:!(){}[]/?&|' else c
                   for c in w)


def _query_words(rng: np.random.Generator, n: int) -> list:
    """Zipf-weighted draws: hot keywords and identifiers give heavy,
    memo-hitting queries; the rare tail gives selective ones."""
    out = []
    for r in rng.random(n):
        if r < 0.4:
            out.append(_zipf_pick(rng, LONG_KEYWORDS, 1)[0])
        elif r < 0.75:
            out.append(_zipf_pick(rng, IDENTS, 1, a=1.05)[0])
        else:
            out.append(_zipf_pick(rng, ENGLISH, 1, a=1.1)[0])
    return out


def query_stream(seed: int, texts: list, langs: list, n: int,
                 tag: str = "queries") -> list[dict]:
    """``n`` query ops, classes in round-robin order (a fixed mix), terms
    seeded; phrases come from ``texts`` (with their ``langs``). Each op
    is a dict with ``cls`` and its arguments; phrase-gated classes also
    carry the bare ``phrase`` and its ``slop`` for the checks."""
    rng = np.random.default_rng([seed, _tag_int(tag)])
    ops = []
    for i in range(n):
        cls = QUERY_CLASSES[i % len(QUERY_CLASSES)]
        w = _query_words(rng, 4)
        if cls in ("and", "or", "or_k1000"):
            op = {"text": " ".join(w[:2 + int(rng.integers(2))])}
        elif cls in ("phrase", "count"):
            op = {"text": " ".join(_adjacent_pair(rng, texts, langs)[:2])}
        elif cls == "bool":
            op = {"must": w[0], "should": f"{w[1]} {w[2]}",
                  "must_not": w[3]}
        elif cls == "syn":
            op = {"text": str(rng.choice(
                ["東京", "とうきょう", "大阪", "data", "sort", "index",
                 "東京 データ", "sort data"]))}
        elif cls == "qs":
            a, b, lang = _adjacent_pair(rng, texts, langs)
            op = {"text": f'+"{_qs_word(a)} {_qs_word(b)}" '
                          f'{_qs_word(w[0])} lang:{lang}',
                  "phrase": f"{a} {b}", "slop": 0}
        else:  # qs_slop: two one-position words, so slop is exact
            a, b = (str(x) for x in
                    rng.choice(SHORT_WORDS, size=2, replace=False))
            op = {"text": f'"{_qs_word(a)} {_qs_word(b)}"~2',
                  "phrase": f"{a} {b}", "slop": 2}
        op["cls"] = cls
        ops.append(op)
    return ops


# --------------------------------------------------------------------
# dedup corpus
# --------------------------------------------------------------------

DUP_RATES = {"exact": 0.05, "near": 0.05, "templated": 0.05}


def dedup_corpus(seed: int, n_docs: int) -> tuple[pd.DataFrame, dict]:
    """(doc_id, text) with duplicates planted at ``DUP_RATES``:

    - exact: a verbatim copy of an earlier doc, at a higher id;
    - near: an earlier doc with one word replaced by a fresh token;
    - templated: a shared boilerplate body with a short unique header,
      the hot-bucket shape of generated code.

    Returns the frame and the planted sets: ``exact`` as
    (original, copy) pairs, ``near`` as (original, edited) pairs."""
    rng = np.random.default_rng([seed, _tag_int("dedup")])
    n_exact = int(n_docs * DUP_RATES["exact"])
    n_near = int(n_docs * DUP_RATES["near"])
    n_tmpl = int(n_docs * DUP_RATES["templated"])
    n_base = n_docs - n_exact - n_near - n_tmpl
    lens = np.clip(rng.lognormal(np.log(60), 0.6, size=n_base), 12, 300)
    texts = [_prose_doc(rng, int(n)) + " " + _code_doc(rng, int(n) // 2)
             for n in lens]
    body = _code_doc(rng, 80)
    texts += [f"header {i} {_code_doc(rng, 3)} {body}"
              for i in range(n_tmpl)]
    exact, near = [], []
    src = rng.choice(n_base, size=n_exact + n_near, replace=False)
    for j, s in enumerate(src):
        s = int(s)
        new_id = len(texts)
        if j < n_exact:
            texts.append(texts[s])
            exact.append((s, new_id))
        else:
            words = texts[s].split(" ")
            k = int(rng.integers(len(words)))
            words[k] = f"edit{int(rng.integers(1 << 20)):x}"
            texts.append(" ".join(words))
            near.append((s, new_id))
    df = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                       "text": texts})
    return df, {"exact": exact, "near": near, "n_templated": n_tmpl}
