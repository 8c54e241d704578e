"""BPE tokenization as pure column expressions — tokenizer-faithful
token accounting for the chunk/pack/quality shaping layer.

The whitespace counts used elsewhere in this package under- or
over-state what a trainer's tokenizer will see; anyone packing
sequences for training needs REAL subword counts. This module applies
a Byte-Pair-Encoding merge list (Sennrich, Haddow & Birch 2016;
GPT-2-style ``merges.txt`` shape) entirely in JVM-side string
expressions, so the counts run at scan speed with the vocabulary
baked into the plan (a broadcast-by-literal), and the DuckDB oracle
replays them verbatim.

How the expression tokenizer works
----------------------------------
1. Pre-tokenize with the module's GPT-2-style regex
   (``text.BPE_TOKEN_PATTERN``): contractions, optional-space letter
   runs, digit runs, punctuation runs.
2. Represent each pre-token as a separator-delimited symbol string
   ``SEP c1 SEP c2 SEP ... SEP`` (SEP = chr(30), stripped from input
   first) and concatenate — pre-token boundaries become double-SEP,
   which no merge pattern can cross.
3. For each merge (a, b) in rank order, ``replace`` the literal
   ``SEP+a+SEP+b+SEP`` with ``SEP+ab+SEP`` TWICE. String replace is
   non-overlapping left-to-right in both Spark and DuckDB; two passes
   provably reach the fixed point (adjacent matches share a boundary
   SEP, so one pass can skip alternating pairs but never leaves two
   adjacent skipped pairs — exhaustively verified in
   tests/test_bpe.py against a replace-until-stable reference).
4. Token count = (#SEP) - (#pre-tokens); the token array is the
   SEP-split of the merged string.

This "apply merges in rank order to a fixed point" procedure is the
original Sennrich formulation. It can differ from GPT-2's
best-ranked-pair-first iteration on pathological inputs, but it is a
well-defined public spec that two independent engines can replay
byte-for-byte — which is what a correctness-gated pipeline needs.

Scale notes: expression depth is 2 x len(merges) nested ``replace``
calls — deliberate for pinned mini-vocabularies (<= ~200 merges),
where the whole tokenizer inlines into whole-stage codegen. For a
full 50k-merge production vocabulary use
:func:`bpe_token_count_pandas_udf` (Arrow-batched, per-pre-token
memoized; identical spec, asserted equal on the pinned vocab).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.fastlit import str_int_map_lit, str_int_map_sql
from .bpe_vocab import MINI_MERGES
from .text import BPE_TOKEN_PATTERN

__all__ = [
    "MINI_MERGES",
    "bpe_tokens_col",
    "bpe_token_count_col",
    "bpe_token_count_sql",
    "bpe_tokens_sql",
    "bpe_apply_python",
    "bpe_token_count_pandas_udf",
    "bpe_token_ids_pandas_udf",
    "load_merges_txt",
    "bpe_vocab",
    "bpe_token_ids_col",
]

SEP = "\x1e"  # ASCII record separator: never legitimate in corpus text

# Per-task memo bound for the iterator-form pandas UDFs: a natural
# corpus has ~1e4-1e6 distinct pre-token shapes (the 50k-doc organic
# run held 37,769), so the cap never triggers on real text; it exists
# so a pathological high-entropy partition (unique ids/hashes inside
# text) cannot grow a Python worker's dict without bound. Epoch
# eviction (clear + rebuild) keeps the hot Zipf head cached.
_MEMO_CAP = 1_000_000

# ASCII specialization of BPE_TOKEN_PATTERN for driver-side Python
# (re lacks \p{L}; equivalent on ASCII text, asserted in tests)
ASCII_PRETOKEN_RE = re.compile(
    r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+")


def _clean(text: Column) -> Column:
    return F.replace(text, F.lit(SEP), F.lit(""))


def _pretokens(text: Column) -> Column:
    return F.regexp_extract_all(_clean(text), F.lit(BPE_TOKEN_PATTERN),
                                F.lit(0))


def _sym_string(text: Column) -> Column:
    """SEP-delimited initial symbol string of the whole document."""
    return F.array_join(
        F.transform(
            _pretokens(text),
            lambda t: F.concat(
                F.lit(SEP), F.regexp_replace(t, "(.)", "$1" + SEP)),
        ),
        "",
    )


def _merged_string(text: Column, merges) -> Column:
    s = _sym_string(text)
    for a, b in merges:
        pat = F.lit(SEP + a + SEP + b + SEP)
        rep = F.lit(SEP + a + b + SEP)
        s = F.replace(F.replace(s, pat, rep), pat, rep)
    return s


def _spark_str(s: str) -> str:
    """Spark-SQL single-quoted string literal — the one shared
    implementation lives in operators.fastlit (sql_str_lit), which
    also asserts the default non-escapedStringLiterals parser once
    per session (control characters, notably SEP=chr(30), render as
    unicode escapes)."""
    from ..operators.fastlit import sql_str_lit

    return sql_str_lit(s)


def _as_col_sql(text) -> str | None:
    """SQL rendering of ``text`` when it is a plain column NAME (str,
    quoted like F.col by ``sql_ident``); None for Column inputs —
    those take the Column-op path."""
    from ..operators.fastlit import sql_ident

    return sql_ident(text) if isinstance(text, str) else None


def _merged_sql_spark(col_sql: str, merges) -> tuple[str, str]:
    """(merged-string SQL, pre-token-array SQL) for Spark — the
    driver-latency fast path. Each Column method call is one py4j
    round trip (~0.45 ms), so the 40-merge cascade built with Column
    ops costs ~160 round trips (~0.4 s of pure socket latency) per
    query construction; rendering the identical expression tree as
    ONE parsed SQL string is a single round trip at any merge count.
    Operator-for-operator the same tree as _merged_string /
    _pretokens (replace / regexp_extract_all / transform /
    regexp_replace / array_join), so plans and results are
    byte-identical (asserted in tests/test_bpe.py)."""
    clean = f"replace({col_sql}, {_spark_str(SEP)}, '')"
    toks = (f"regexp_extract_all({clean}, "
            f"{_spark_str(BPE_TOKEN_PATTERN)}, 0)")
    expr = ("array_join(transform(" + toks + ", t -> concat(" +
            _spark_str(SEP) + ", regexp_replace(t, '(.)', " +
            _spark_str("$1" + SEP) + "))), '')")
    for a, b in merges:
        pat = _spark_str(SEP + a + SEP + b + SEP)
        rep = _spark_str(SEP + a + b + SEP)
        expr = f"replace(replace({expr}, {pat}, {rep}), {pat}, {rep})"
    return expr, toks


def bpe_tokens_col(text, merges=None) -> Column:
    """Array of BPE tokens of ``text`` (pre-token boundaries
    respected; tokens carry their GPT-2-style leading space).
    ``text`` may be a Column or a plain column name (str) — the str
    form builds the whole merge cascade as one parsed SQL expression
    (one py4j round trip instead of ~4 per merge)."""
    merges = MINI_MERGES if merges is None else merges
    col_sql = _as_col_sql(text)
    if col_sql is not None:
        merged, _ = _merged_sql_spark(col_sql, merges)
        return F.expr(
            f"filter(split({merged}, {_spark_str(SEP)}), x -> x != '')")
    return F.filter(F.split(_merged_string(text, merges), SEP),
                    lambda x: x != "")


def bpe_token_count_col(text, merges=None) -> Column:
    """BPE token count of ``text`` under ``merges`` — the
    tokenizer-faithful replacement for whitespace word counts in
    chunking/packing. NULL text -> NULL; empty text -> 0.
    ``text`` may be a Column or a plain column name (str, the
    one-round-trip SQL path)."""
    merges = MINI_MERGES if merges is None else merges
    col_sql = _as_col_sql(text)
    if col_sql is not None:
        merged, toks = _merged_sql_spark(col_sql, merges)
        sep = _spark_str(SEP)
        return F.expr(
            f"CAST(((length({merged}) - length(replace({merged}, {sep},"
            f" ''))) - size({toks})) AS INT)")
    s = _merged_string(text, merges)
    n_sep = F.length(s) - F.length(F.replace(s, F.lit(SEP), F.lit("")))
    return (n_sep - F.size(_pretokens(text))).cast("int")


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _merged_sql(col: str, merges,
                pattern: str = BPE_TOKEN_PATTERN) -> tuple[str, str]:
    """(merged-string expr, pre-token-list expr) — the shared DuckDB
    replay core: identical pre-tokenizer regex (RE2 both sides),
    identical symbol encoding, identical two-pass replace per merge.
    ``col`` is a SQL expression for the text column."""
    clean = f"replace({col}, chr(30), '')"
    toks = f"regexp_extract_all({clean}, {_sql_quote(pattern)})"
    # coalesce: DuckDB's array_to_string([]) is NULL where Spark's
    # array_join([]) is '' — without it a zero-pre-token doc (empty or
    # whitespace-only text) oracles NULL against Spark's 0
    expr = ("coalesce(array_to_string(list_transform(" + toks +
            ", t -> chr(30) || regexp_replace(t, '(.)', "
            "'\\1' || chr(30), 'g')), ''), '')")
    for a, b in merges:
        pat = _sql_quote(SEP + a + SEP + b + SEP)
        rep = _sql_quote(SEP + a + b + SEP)
        expr = f"replace(replace({expr}, {pat}, {rep}), {pat}, {rep})"
    return expr, toks


def bpe_token_count_sql(col: str, merges=None,
                        pattern: str = BPE_TOKEN_PATTERN) -> str:
    """The DuckDB replay of :func:`bpe_token_count_col`."""
    merges = MINI_MERGES if merges is None else merges
    expr, toks = _merged_sql(col, merges, pattern)
    n_sep = (f"(length({expr}) - "
             f"length(replace({expr}, chr(30), '')))")
    return f"CAST(({n_sep} - len({toks})) AS INTEGER)"


def bpe_tokens_sql(col: str, merges=None,
                   pattern: str = BPE_TOKEN_PATTERN) -> str:
    """The DuckDB replay of :func:`bpe_tokens_col`: the list of BPE
    token SYMBOLS of ``col`` (split the merged string on the
    separator, drop empties). NULL text yields NULL, matching the
    Spark column — without the guard the merged string's coalesce
    maps NULL to '' and the list reads [] (the NULL-list oracle
    divergence class the round-8 fuzz caught in the scoring folds)."""
    merges = MINI_MERGES if merges is None else merges
    expr, _ = _merged_sql(col, merges, pattern)
    return (f"CASE WHEN {col} IS NULL THEN NULL "
            f"ELSE list_filter(string_split({expr}, chr(30)), "
            f"x -> x <> '') END")


def bpe_apply_python(text: str, merges=None,
                     pretoken_re: re.Pattern = ASCII_PRETOKEN_RE
                     ) -> list[str]:
    """Driver-side reference implementation of the SAME spec (merges
    in rank order, left-to-right non-overlapping replace to fixed
    point). Used by tests as the independent oracle and by the pandas
    UDF as the per-pre-token kernel."""
    merges = MINI_MERGES if merges is None else merges
    out: list[str] = []
    for tok in pretoken_re.findall(text.replace(SEP, "")):
        s = SEP + SEP.join(tok) + SEP
        for a, b in merges:
            pat = SEP + a + SEP + b + SEP
            rep = SEP + a + b + SEP
            while pat in s:
                s = s.replace(pat, rep)
        out.extend(x for x in s.split(SEP) if x)
    return out


def _merge_ranks(merges) -> dict[tuple[str, str], int]:
    """pair -> LOWEST rank (a duplicated pair's later entries are
    no-ops under the sequential spec: the first application reaches
    the fixed point)."""
    ranks: dict[tuple[str, str], int] = {}
    for r, p in enumerate(merges):
        ranks.setdefault(tuple(p), r)
    return ranks


def _merge_pretoken_fast(tok: str, merges, ranks) -> list[str]:
    """Rank-indexed application of the sequential merge spec for ONE
    pre-token: repeatedly merge the present pair with the smallest
    rank >= the last applied rank. O(len(tok)^2) dict lookups,
    independent of vocabulary size — the production kernel for 32k+
    merge lists, where scanning the full list per pre-token
    (bpe_apply_python's shape) costs O(n_merges) each.

    Exactly equivalent to the sequential scan for ANY merge list, not
    just trained ones: sequential processes rank r to fixed point then
    never returns, so (a) between the cursor and the minimum present
    rank nothing applies, and (b) a pair whose rank precedes the
    cursor — only constructible in hand-built lists, since a trained
    merge's output symbol cannot exist before its rank — is skipped by
    both (asserted against bpe_apply_python in tests/test_bpe.py,
    including an adversarial later-merge-creates-earlier-pair list).
    Each selected rank is applied with STRING-replace pass semantics,
    not symbol-greedy: a match in the SEP-delimited form consumes the
    shared trailing separator, so the immediately following pair
    cannot match within the same pass (a run of five b's under (b, b)
    merges positions (0,1) and (3,4) -> [bb, b, bb], exactly what
    ``str.replace`` produces); passes repeat to the fixed point. The
    applied pair cannot re-form (merges only create longer symbols),
    so the cursor never has to revisit its own rank."""
    syms = list(tok)
    cursor = 0
    while len(syms) > 1:
        best = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]), -1)
            if r >= cursor and (best < 0 or r < best):
                best = r
        if best < 0:
            break
        a, b = merges[best]
        merged = a + b
        changed = True
        while changed:
            changed = False
            out: list[str] = []
            i = 0
            n = len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    changed = True
                    # the match consumed the trailing SEP: the pair
                    # starting at i+2 is blocked for this pass
                    if i + 2 < n:
                        out.append(syms[i + 2])
                    i += 3
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        cursor = best
    return syms


def bpe_vocab(merges=None, base_chars: str | None = None
              ) -> dict[str, int]:
    """Deterministic token->id vocabulary for a merge list: id 0 is
    UNK (any symbol outside the vocab — e.g. a codepoint unseen at
    training time), ids 1..len(base) are the base characters in
    codepoint order, then one id per merge in rank order (a merged
    symbol's id is fixed by its rank, exactly like a GPT-2 vocab
    built from merges.txt). ``base_chars`` defaults to printable
    ASCII + space."""
    merges = MINI_MERGES if merges is None else merges
    if base_chars is None:
        base_chars = " " + "".join(
            chr(c) for c in range(33, 127))
    vocab: dict[str, int] = {}
    next_id = 1
    for ch in sorted(set(base_chars)):
        vocab[ch] = next_id
        next_id += 1
    for a, b in merges:
        sym = a + b
        if sym not in vocab:
            vocab[sym] = next_id
            next_id += 1
    return vocab


def bpe_token_ids_col(text, merges=None,
                      vocab: dict[str, int] | None = None) -> Column:
    """Array of integer token ids — what a trainer actually consumes
    after packing. Tokens map through the :func:`bpe_vocab` table
    shipped as a map literal (broadcast-by-literal, no join, no UDF);
    out-of-vocabulary symbols map to UNK=0 rather than dropping, so
    sequence lengths stay equal to :func:`bpe_token_count_col`.
    ``text`` may be a Column or a plain column name (str): the str
    form renders tokenizer + vocab map as ONE parsed SQL expression
    — one py4j round trip instead of ~4 per merge + 2 per vocab
    entry of pure driver socket latency."""
    merges = MINI_MERGES if merges is None else merges
    vocab = bpe_vocab(merges) if vocab is None else vocab
    col_sql = _as_col_sql(text)
    if col_sql is not None:
        merged, _ = _merged_sql_spark(col_sql, merges)
        toks = (f"filter(split({merged}, {_spark_str(SEP)}), "
                "x -> x != '')")
        return F.expr(
            f"transform({toks}, t -> coalesce({str_int_map_sql(vocab)}"
            "[t], 0))")
    # one parsed map literal, not per-entry F.lit py4j calls (fastlit
    # rationale: ~0.45 ms socket latency per call x 2 x |vocab|)
    vmap = str_int_map_lit(vocab)
    toks = bpe_tokens_col(text, merges)
    return F.transform(toks,
                       lambda t: F.coalesce(vmap[t], F.lit(0)))


def load_merges_txt(path_or_lines, space_symbol: str = "Ġ",
                    max_merges: int | None = None) -> list[tuple[str, str]]:
    """Parse a GPT-2-format ``merges.txt`` into the merge-list shape
    every function here takes: one ``left right`` pair per line,
    ``#``-prefixed header lines skipped, the byte-level space marker
    (Ġ, U+0120 — GPT-2 maps the space byte there) translated back to
    a literal leading space to match this module's codepoint-level
    pre-tokens.

    Caveat: GPT-2 merges are defined over its byte-to-unicode
    alphabet; after the Ġ mapping the frequent ASCII merges (the head
    of the file, which is what ``max_merges`` keeps) behave
    identically here, but merges involving multi-byte codepoints
    would not — pass a codepoint-level merge list for non-ASCII
    corpora. ``path_or_lines`` is a file path or an iterable of
    lines."""
    if isinstance(path_or_lines, str):
        with open(path_or_lines, encoding="utf-8") as fh:
            lines = fh.read().splitlines()
    else:
        lines = list(path_or_lines)
    merges: list[tuple[str, str]] = []
    for ln in lines:
        ln = ln.rstrip("\n")
        if not ln or ln.startswith("#"):
            continue
        parts = ln.split(" ")
        if len(parts) != 2:
            raise ValueError(f"malformed merges.txt line: {ln!r}")
        a, b = (p.replace(space_symbol, " ") for p in parts)
        if SEP in a or SEP in b:
            raise ValueError("merge symbols may not contain chr(30)")
        merges.append((a, b))
        if max_merges is not None and len(merges) >= max_merges:
            break
    return merges


def bpe_token_count_pandas_udf(merges=None,
                               pretoken_re: re.Pattern = ASCII_PRETOKEN_RE):
    """Arrow-batched token counter for vocabularies too large for the
    expression path (a production 50k-merge list): same spec as
    :func:`bpe_token_count_col`, memoized per distinct pre-token (Zipf
    text makes the cache hit rate ~99%). Returns a pandas UDF usable
    as ``df.select(udf("text"))``.

    NB: ``pretoken_re`` is the ASCII specialization; for non-ASCII
    corpora pass a pattern compiled with the third-party ``regex``
    module supporting \\p{L} to match the JVM/RE2 pre-tokenizer."""
    from pyspark.sql.pandas.functions import pandas_udf

    merges = MINI_MERGES if merges is None else merges
    merges = list(merges)
    ranks = _merge_ranks(merges)

    # Iterator form: one cache per Python worker task, shared across
    # every Arrow batch of the partition (the scalar form would
    # rebuild it per batch)
    @pandas_udf("int")
    def _count(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        cache: dict[str, int] = {}

        def count_pretoken(tok: str) -> int:
            n = cache.get(tok)
            if n is None:
                if len(cache) >= _MEMO_CAP:
                    cache.clear()  # epoch eviction, see _MEMO_CAP
                n = len(_merge_pretoken_fast(tok, merges, ranks))
                cache[tok] = n
            return n

        def count_doc(t):
            if t is None:
                return None
            return sum(count_pretoken(tok) for tok in
                       pretoken_re.findall(t.replace(SEP, "")))

        for texts in batches:
            yield texts.map(count_doc).astype("Int64")

    return _count


def bpe_token_ids_pandas_udf(merges=None,
                             vocab: dict[str, int] | None = None,
                             pretoken_re: re.Pattern = ASCII_PRETOKEN_RE):
    """Arrow-batched token-id encoder — the production sibling of
    :func:`bpe_token_ids_col` for vocabularies too large for the
    expression path (the 2 x n_merges nested-replace cascade stops
    being sensible past a few hundred merges). Same spec: merges in
    rank order per pre-token (rank-indexed kernel, vocab-size
    independent), ids via :func:`bpe_vocab` with UNK=0, NULL text ->
    NULL. Memoized per distinct pre-token via the iterator UDF form,
    so Zipf text encodes each word shape once per worker task (cache
    shared across all Arrow batches of a partition). The cache is
    bounded: past ``_MEMO_CAP`` distinct pre-tokens it is cleared and
    rebuilt (epoch eviction) — on Zipf text the head re-populates in
    one batch, and a pathological high-entropy partition (unique
    ids/hashes in text) can no longer grow worker memory without
    bound."""
    from pyspark.sql.pandas.functions import pandas_udf

    merges = MINI_MERGES if merges is None else merges
    merges = list(merges)
    ranks = _merge_ranks(merges)
    vocab = bpe_vocab(merges) if vocab is None else vocab

    @pandas_udf("array<int>")
    def _ids(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        cache: dict[str, list[int]] = {}

        def ids_pretoken(tok: str) -> list[int]:
            v = cache.get(tok)
            if v is None:
                if len(cache) >= _MEMO_CAP:
                    cache.clear()
                v = [vocab.get(s, 0)
                     for s in _merge_pretoken_fast(tok, merges, ranks)]
                cache[tok] = v
            return v

        def ids_doc(t):
            if t is None:
                return None
            out: list[int] = []
            for tok in pretoken_re.findall(t.replace(SEP, "")):
                out.extend(ids_pretoken(tok))
            return out

        for texts in batches:
            yield texts.map(ids_doc)

    return _ids
