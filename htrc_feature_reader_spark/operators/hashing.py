"""The engine's cross-engine integer hash family: one definition of each
member, with its DuckDB ``*_sql`` replay beside it.

Every MinHash/SimHash dedup path, hashed n-gram featurizer, the hash
tokenizer and every seeded sampler draws from this family. It is exact
integer arithmetic (no float, no engine hash function), so DuckDB
recomputes the same bits; the replays keep their own SQL arithmetic,
because they are what the oracle compares against.

The family
----------
- Modulus ``MOD`` = p = 2^31 - 1 (Mersenne). Every limb stays below
  2^31, so a product of two limbs stays below 2^62 and fits int64
  under ANSI overflow checks.
- Character fold (:func:`rolling_hash`): ``h = fold (h * base + ascii(c))
  mod p`` over a string's characters, seeded 0. ``BASE`` = 257; ``BASE2``
  = 263 is the second, independent family of the dual ids.
- Packed word fold (:func:`stage_word_hashes`): one character pass per
  word yields ``(h, base^len mod p)``, packed into one long as ``h * 2^31
  + base^len`` (no struct allocated per character in the interpreted
  aggregate lambda). Dual mode folds the 257 and 263 families in one
  pass, as the struct limbs ``hp`` and ``gq``.
- Composition law (:func:`compose_ngrams`): ``H(a || b) = (H(a) *
  base^len(b) + H(b)) mod p``, so an n-gram id is composed from its
  words' packed pairs, bit-identical to ``rolling_hash(concat_ws(' ',
  gram))``; no gram string is built and no character is folded twice.
  Dual ids pack ``h257 * 2^31 + h263`` (~62 bits), for operators that
  delete text on hash equality.
- Int-token window fold (:func:`token_window_ids`): ``fold (h * base +
  pmod(t, p)) mod p`` over n consecutive token ids.
- Window guard (:func:`window_starts`): ``sequence(0, size - n)`` is
  DESCENDING for arrays shorter than n, not empty, so every windowed
  consumer goes through the guard.
- Affine family (:func:`affine_coeffs`): odd ``a_i`` and ``b_i`` from the
  seed; ``h_i(x) = (a_i * ((x + 1) * PREMIX mod p) + b_i) mod p``. The
  multiplicative pre-mix spreads small dense ids over the ring; the +1
  keeps id 0 off the zero fixed point. MinHash signatures and the
  embedding LSH hyperplanes (``similarity.near_dup_pairs``) share it.
- Mixers: :func:`key_hash` (a per-seed multiplicative hash of an integral
  or string key, :func:`seed_mult` decorrelating seeds) and :func:`mix`
  (an xorshift finalizer that breaks its affine lattice).

Contracts callers rely on
-------------------------
- Two word models. Shingle and span consumers split on single spaces and
  keep empty words (a double space is an empty word whose fold is the
  identity, ``h = 0, base^0 = 1``), so positions line up with
  ``string_split(text, ' ')``. Featurizers drop empty words first
  (``drop_empty_words=True``) and fold the raw character split. Both give
  the same ids for the same grams; the plans differ.
- Staging rule: the word-hash array ``__wh`` is its own projection of the
  staged frame. A composed gram references it n times, and Catalyst would
  otherwise inline the whole fold into every ``element_at`` (measured
  25x slower). Consumers then compose the ids expression straight into
  their own single projection over the staged frame (``explode``,
  ``posexplode``): an intermediate ``.select`` of the ids between the
  staging and the generator measured 10-30x slower.
- Row-local distinct: ``array_distinct`` over one row's ids equals the
  global distinct of ``(id, shingle_id)`` only when the id column is
  unique per row. Callers feeding a non-unique id get per-row
  distinctness and must deduplicate downstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType, StringType

from ..functions import ensure_min_parallelism

MOD = (1 << 31) - 1
BASE = 257
BASE2 = 263
PREMIX = 2_654_435_761
_SPACE = 32  # ascii code of the joining space

# ------------------------------------------------------- character fold

def rolling_hash(text, base: int = BASE) -> Column:
    """Polynomial rolling hash over a string's character codes; ``base``
    picks the family (``BASE`` or the dual ids' ``BASE2``)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.aggregate(
        F.split(c, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % MOD,
    )


def rolling_hash_sql(col: str, base: int = BASE) -> str:
    """DuckDB replay of :func:`rolling_hash` over a SQL expression."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform("
        f"string_split({col}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * {int(base)} + b) % {MOD})"
    )


def dual_hash_sql(col: str) -> str:
    """DuckDB replay of the dual id of a gram string: ``h257 * 2^31 + h263``."""
    return f"({rolling_hash_sql(col)} * {1 << 31} + {rolling_hash_sql(col, base=BASE2)})"


# ------------------------------------------------------ window guard

def window_starts(arr, n: int) -> Column:
    """0-based start of every length-``n`` window of ``arr``; empty when
    ``arr`` is shorter than ``n``."""
    return F.when(
        F.size(arr) >= n, F.sequence(F.lit(0), F.size(arr) - n)
    ).otherwise(F.array().cast("array<int>"))


def window_starts_sql(lst: str, n: int) -> str:
    """DuckDB replay of :func:`window_starts` over a list expression."""
    return f"range(0, greatest(len({lst}) - {n - 1}, 0))"


def ngram_strings_sql(lst: str, n: int) -> str:
    """The space-joined word n-grams of a DuckDB list, in order: the
    string side of the composition law (hash them with
    :func:`rolling_hash_sql`)."""
    if n == 1:
        return lst
    joined = " || ' ' || ".join(f"{lst}[i+{j + 1}]" for j in range(n))
    return f"list_transform({window_starts_sql(lst, n)}, i -> {joined})"


# ------------------------------------------- packed word fold, composition

def _hi(acc):  # the hash limb
    return F.shiftright(acc, 31)


def _lo(acc):  # the base^len limb
    return acc.bitwiseAND(F.lit(MOD).cast("long"))


def _packed_step(base: int):
    def step(acc, ch):
        h = (_hi(acc) * base + F.ascii(ch)) % MOD
        return F.shiftleft(h, 31) + (_lo(acc) * base) % MOD

    return step


def stage_word_hashes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    drop_empty_words: bool = False,
    dual: bool = False,
) -> DataFrame:
    """The staged frame ``(id, __wh)``: one row per document, ``__wh`` the
    packed per-word fold of ``text_col`` split on single spaces, as its
    own projection (the staging rule). ``dual`` folds the ``BASE`` and
    ``BASE2`` families into the struct limbs ``hp`` and ``gq``."""
    df = ensure_min_parallelism(df)  # CPU-bound folds: spread tiny inputs
    words = F.split(F.col(text_col), " ")
    if drop_empty_words:
        words = F.array_remove(words, "")

    def chars(w):
        return F.split(w, "") if drop_empty_words else F.array_remove(F.split(w, ""), "")

    def fold(w, b):
        return F.aggregate(chars(w), F.lit(1).cast("long"), _packed_step(b))

    if dual:
        def word(w):
            return F.struct(fold(w, BASE).alias("hp"), fold(w, BASE2).alias("gq"))
    else:
        def word(w):
            return fold(w, BASE)

    return df.select(F.col(id_col).alias("id"), F.transform(words, word).alias("__wh"))


def compose_ngrams(n: int, dual: bool = False) -> Column:
    """The positional word-n-gram id array over a staged frame's ``__wh``
    (element i hashes words ``i..i+n-1``; duplicates kept)."""
    wha = F.col("__wh")
    limbs = [("hp", BASE), ("gq", BASE2)] if dual else [(None, BASE)]

    def gram(word):  # word(j) -> packed fold of the gram's j-th word
        hs = []
        for name, b in limbs:
            def limb(j):
                return word(j)[name] if name else word(j)

            h = _hi(limb(0))
            for j in range(1, n):
                h = (h * b + _SPACE) % MOD
                h = (h * _lo(limb(j)) + _hi(limb(j))) % MOD
            hs.append(h)
        # h < 2^31 - 1, so h * 2^31 + g < 2^62 fits int64
        return hs[0] * F.lit(1 << 31).cast("long") + hs[1] if dual else hs[0]

    if n == 1:
        return F.transform(wha, lambda e: gram(lambda j: e))

    def window(i):
        return gram(lambda j: F.element_at(wha, i + 1 + j if j else i + 1))

    return F.transform(window_starts(wha, n), window)


# ------------------------------------------------ int-token window fold

def token_window_ids(toks, n: int) -> Column:
    """The positional id array of every length-``n`` window of an int
    token array. ``pmod`` keeps negative token ids on the ring."""

    def window(i):
        h = F.lit(0).cast("long")
        for j in range(n):
            t = F.pmod(F.element_at(toks, i + 1 + j).cast("long"), F.lit(MOD))
            h = (h * BASE + t) % MOD
        return h

    return F.transform(window_starts(toks, n), window)


def token_window_ids_sql(lst: str, n: int) -> str:
    """DuckDB replay of :func:`token_window_ids` over a list expression."""
    m = MOD
    return (
        f"list_transform({window_starts_sql(lst, n)}, i -> list_reduce("
        f"list_prepend(CAST(0 AS BIGINT), {lst}[i+1:i+{n}]), "
        f"(a, b) -> (a * {BASE} + (CAST(b AS BIGINT) % {m} + {m}) % {m}) % {m}))"
    )


# ------------------------------------------------------- affine family

def affine_coeffs(n: int, seed: int) -> list[tuple[int, int]]:
    """``n`` seeded ``(a, b)`` pairs, ``a`` odd, both below p."""
    return [
        (2 * ((seed * 1_000_003 + i * 7_919) % (MOD // 2)) + 1,
         (seed * 104_729 + i * 52_361) % MOD)
        for i in range(n)
    ]


def affine_hash(x, a: int | Column, b: int | Column) -> Column:
    """``(a * ((x + 1) * PREMIX mod p) + b) mod p`` for a long ``x`` in
    ``[0, p)`` (larger ``x`` would overflow the pre-mix product); ``a`` and
    ``b`` are ints or long columns."""
    premixed = ((x + 1) * F.lit(PREMIX)) % F.lit(MOD)
    return (F.lit(a) * premixed + F.lit(b)) % F.lit(MOD)


def affine_hash_sql(x: str, a: int, b: int) -> str:
    """DuckDB replay of :func:`affine_hash`."""
    return f"({a} * ((({x} + 1) * {PREMIX}) % {MOD}) + {b}) % {MOD}"


def simhash_coeffs(seed: int) -> tuple[int, int]:
    """The SimHash token mixer ``(A, B)``: bit j of token t is
    ``((t * A + B) mod 2^62 >> j) & 1``, ``A`` odd."""
    return 2 * ((seed * PREMIX) % (1 << 30)) + 1, seed * 97 + 13


# ------------------------------------------------------------- mixers

def seed_mult(seed: int) -> int:
    """Per-seed odd multiplier in ``[2^31, 2^31 + 2^30)``. The seed MUST
    change the hash's multiplicative slope, not just shift it: with a
    fixed multiplier every h_seed is the same affine map of the key plus
    a constant, so any two seeds are perfectly correlated (a rotation of
    one permutation — e.g. a rate-0.2 sample at seed A would land inside
    a contiguous 0.2-wide hash interval at seed B, making an
    'independent' split anything from 0% to 100% train). And the slopes
    must differ by ~2^31-sized amounts, not by O(seed): a slope delta d
    only decorrelates keys once d*k wraps the modulus, i.e. key ranges
    past m/d. Hence a driver-side splitmix scramble of the seed (inlined
    as a literal into both the Spark expression and the SQL replay — it
    never needs to be computable in either engine). The high bit keeps
    products wrapping the Mersenne modulus even for small keys; the
    30-bit cap keeps ``(k%m + seed) * mult`` under 2^63 (ANSI overflow);
    OR 1 keeps it odd."""
    if not (0 <= seed <= (1 << 27)):
        raise ValueError(f"seed must be in [0, 2^27], got {seed}")
    x = (int(seed) + 1) * 0x9E3779B97F4A7C15 % (1 << 64)
    x ^= x >> 31
    return (1 << 31) | (x % (1 << 30)) | 1


def key_hash(df: DataFrame, key_col: str, seed: int) -> Column:
    """The shared per-key decision hash, in ``[0, 2^31-1)``: Knuth-style
    multiplicative over integral keys, rolling-hash-then-Knuth over string
    keys (native htids), with a per-seed multiplier (:func:`seed_mult`)
    so distinct seeds give decorrelated decisions. Raises on any other
    dtype — a silent cast of e.g. a struct or double key to NULL would
    break every downstream decision. NULL keys fold deterministically to
    0 / ``''`` (both hash alike)."""
    dt = df.schema[key_col].dataType
    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        # reduce mod 2^31-1 BEFORE the multiply: (k % m + seed) * mult
        # stays under 2^63 (ANSI mode throws on int64 overflow). pmod keeps
        # negative keys on the same decision as the oracle's double-mod.
        k = F.coalesce(F.col(key_col).cast("long"), F.lit(0).cast("long"))
    elif isinstance(dt, StringType):
        # rolling_hash is already in [0, 2^31-1): the outer pmod-chain is a
        # no-op reduction but kept so both key kinds share one expression
        k = rolling_hash(F.coalesce(F.col(key_col), F.lit("")))
    else:
        raise TypeError(
            f"key_col {key_col!r} has type {dt.simpleString()}; "
            "only integral or string keys are supported (anything else would "
            "cast to NULL and silently break per-key decisions)"
        )
    return F.pmod(
        (F.pmod(k, F.lit(MOD)) + F.lit(int(seed))) * F.lit(seed_mult(seed)),
        F.lit(MOD),
    )


def key_hash_sql(key_col: str, seed: int, string_key: bool = False) -> str:
    """DuckDB replay of :func:`key_hash` — identical integer arithmetic,
    identical NULL fold, for oracles and cross-engine sampling replays."""
    m = MOD
    if string_key:
        key = rolling_hash_sql(f"COALESCE({key_col}, '')")
    else:
        key = f"COALESCE({key_col}, 0)"
    # (key % m + m) % m: plain SQL `%` keeps the dividend's sign, so this
    # double-mod is the pmod equivalent — negative keys then make the SAME
    # decision as Spark's F.pmod instead of silently keeping every row
    return (
        f"(((({key} % {m}) + {m}) % {m} + {int(seed)}) * {seed_mult(seed)}) % {m}"
    )


def mix(h, seed: int) -> Column:
    """Nonlinear finalizer over a ``[0, 2^31)`` hash: XOR-shift, odd
    multiply mod the Mersenne, XOR-shift (murmur/splitmix style). Breaks
    the affine lattice of :func:`key_hash` for order-sensitive uses
    (shuffles, threshold samples over consecutive ids); interval
    membership over large populations doesn't need it."""
    h = h.bitwiseXOR(F.shiftright(h, 15))
    h = F.pmod(h * F.lit(seed_mult(seed + 0x5BD1)), F.lit(MOD))
    return h.bitwiseXOR(F.shiftright(h, 13))


def mix_sql(h: str, seed: int) -> str:
    """DuckDB replay of :func:`mix` (same rounds, same constants)."""
    h1 = f"xor(({h}), ({h}) >> 15)"
    h2 = f"(({h1}) * {seed_mult(seed + 0x5BD1)}) % {MOD}"
    return f"xor(({h2}), ({h2}) >> 13)"
