"""Byte-pair-encoding tokenizer: distributed training + encoding.

Beyond-reference surface (the reference tokenizes by regex only,
`/root/reference/src/index_advanced.rs:72-88`); BPE subword training is
the tokenizer-construction step of an LLM data pipeline, and it is
expressible as plain DataFrame algebra:

- **Training runs on the word-frequency table, not the corpus.** The
  corpus is scanned ONCE for word counts (map-side combined, Zipf/
  vocabulary-bounded output); every merge iteration is one aggregation
  over that small table plus a broadcast 1-row argmax join. 100 TB of
  text costs one scan + `num_merges` vocabulary-sized jobs.
- **No driver-side argmax.** The best pair each round is a 1-row
  DataFrame joined back in-plan, so the whole training loop is
  declarative; `localCheckpoint` per round cuts the growing lineage
  (the iterative-algorithm discipline from PLANS.md).
- **Merges apply by string algebra.** Symbol sequences live in the
  padded doubled-space form ``' a  b  c '`` — every token is wrapped by
  its OWN spaces, so replacing ``' a  b '`` with ``' ab '`` merges
  exactly the adjacent pair (never a token-boundary substring), stays
  correct across consecutive occurrences, and preserves the invariant
  for the next round. Pure `replace`, portable to the DuckDB twin
  verbatim.
"""

from __future__ import annotations

import functools
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rs_graphdb_spark.functions.text import tokenize

_PAIR_T = "array<struct<l:string,r:string>>"


def _seq_init(word):
    """Padded doubled-space char sequence: 'abc' -> ' a  b  c '."""
    spaced = F.trim(F.regexp_replace(word, "(.)", "$1 "))
    return F.concat(F.lit(" "), F.regexp_replace(spaced, " ", "  "), F.lit(" "))


@functools.lru_cache(maxsize=1)
def bytes_to_unicode() -> dict[int, str]:
    """The GPT-2 byte↔unicode table (public BPE convention): every byte
    0..255 maps to a PRINTABLE single codepoint with no whitespace, so
    byte symbols survive the padded doubled-space string algebra intact.
    Printable latin bytes keep their own codepoint; the rest take
    256, 257, … in byte order."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(0xA1, 0xAD))
        + list(range(0xAE, 0x100))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, map(chr, cs)))


@functools.lru_cache(maxsize=1)
def unicode_to_bytes() -> dict[str, int]:
    return {c: b for b, c in bytes_to_unicode().items()}


def _byte_map_col():
    """Plan-literal MAP from 2-hex-digit byte value to its GPT-2 byte
    symbol (256 entries — bounded tokenizer metadata, like the id map)."""
    b2u = bytes_to_unicode()
    entries = []
    for b in range(256):
        entries.extend([F.lit(f"{b:02X}"), F.lit(b2u[b])])
    return F.create_map(*entries)


def _byte_seq_init(word):
    """Padded doubled-space BYTE-symbol sequence: each UTF-8 byte of the
    word becomes one symbol via the GPT-2 byte table ('hi' -> ' h  i ';
    a 2-byte codepoint yields two byte symbols). Pure codegen: hex the
    UTF-8 bytes, split into 2-digit groups, map through the literal
    byte table."""
    m = _byte_map_col()
    hexs = F.hex(F.encode(word, "UTF-8"))
    toks = F.split(F.trim(F.regexp_replace(hexs, "(..)", "$1 ")), " ")
    mapped = F.transform(toks, lambda h: F.element_at(m, h))
    return F.when(F.length(word) == 0, F.lit(" ")).otherwise(
        F.concat(F.lit(" "), F.array_join(mapped, "  "), F.lit(" "))
    )


def _pairs(seq_col):
    """Adjacent symbol pairs of a padded doubled-space sequence.

    The token array is bound ONCE as a lambda variable (single-element
    ``transform`` idiom) — a plain expression reference would re-inline
    the split per element (the PLANS.md landmine)."""
    return F.transform(
        F.array(F.split(F.trim(seq_col), "  ")),
        lambda t: F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda j: F.struct(
                    F.element_at(t, j).alias("l"),
                    F.element_at(t, j + 1).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast(_PAIR_T)),
    )[0]


#: encode-side engine routing threshold (the `_SEMDEDUP_GEMM_MIN_K` /
#: `arrow_codes_above` discipline): at or above this many merges the
#: nested-`F.replace` expression chain is replaced by a mapInArrow
#: kernel. The expression chain is pure codegen and fastest at small
#: merge counts, but its plan DEPTH is one nesting level per merge —
#: Catalyst analysis blows up long before data does at a production
#: tokenizer's 32k-100k merges (r8 VERDICT item #1). The kernel's
#: per-word cost is O(word length), independent of merge-list size
#: (rank-dict lookups), so per-token encode cost is near-FLAT on the
#: merge axis (PLANS.md "Round-9 Arrow-kernel BPE encode", merge-axis probe).
_BPE_ARROW_MIN_MERGES = 64


def _use_arrow_encode(encode_engine: str, n_merges: int) -> bool:
    if encode_engine not in ("auto", "expr", "arrow"):
        raise ValueError(
            f"encode_engine must be 'auto'|'expr'|'arrow', got"
            f" {encode_engine!r}")
    return encode_engine == "arrow" or (
        encode_engine == "auto" and n_merges >= _BPE_ARROW_MIN_MERGES)


def _apply_merges_py(syms: list[str], merges: list[tuple[str, str]],
                     ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply a merge list to one symbol sequence, EXACTLY chain-
    equivalent to the nested-replace expression (and the DuckDB twin):
    merges apply in rank order, each as one left-to-right non-
    overlapping replace of all its occurrences; a pair CREATED by merge
    r is only ever consumed by a LATER merge (rank > r) — a pair whose
    rank already passed stays unmerged, exactly as the chain leaves it.

    Cost is O(len(syms)) rank-dict lookups + O(applied · len) for the
    merge passes — independent of the merge-LIST size, which is what
    makes 32k-100k-merge vocabularies encodable (pytest-pinned against
    the literal padded-string replace chain on randomized inputs)."""
    if len(syms) < 2:
        return list(syms)
    import heapq

    heap: list[int] = []
    queued: set[int] = set()
    for a, b in zip(syms, syms[1:]):
        r = ranks.get((a, b))
        if r is not None and r not in queued:
            queued.add(r)
            heap.append(r)
    heapq.heapify(heap)
    cur = list(syms)
    while heap:
        r = heapq.heappop(heap)
        left, right = merges[r]
        sym = left + right
        out: list[str] = []
        new_pos: list[int] = []
        i, n = 0, len(cur)
        while i < n:
            if i + 1 < n and cur[i] == left and cur[i + 1] == right:
                out.append(sym)
                new_pos.append(len(out) - 1)
                i += 2
            else:
                out.append(cur[i])
                i += 1
        if not new_pos:
            continue  # pair destroyed before its turn — chain no-op
        cur = out
        for p in new_pos:
            for q in (p - 1, p):
                if 0 <= q and q + 1 < len(cur):
                    nr = ranks.get((cur[q], cur[q + 1]))
                    if nr is not None and nr > r and nr not in queued:
                        queued.add(nr)
                        heapq.heappush(heap, nr)
    return cur


def _encode_words_arrow(
    words: DataFrame,
    merges: list[tuple[str, str]],
    byte_level: bool,
    ids: dict[str, int] | None = None,
    unk_id: int = -1,
) -> DataFrame:
    """mapInArrow encode kernel over a (word) DataFrame → (word, tokens)
    or, when ``ids`` is given, (word, ids) — the production-merge-count
    path (r8 VERDICT item #1, the `minhash_signatures_arrow` /
    `_assign_gemm` discipline). The merge list + rank dict + id map
    ship via closure: vocabulary-bounded tokenizer METADATA (the same
    payload a broadcast centroid table would carry), never corpus data.
    Mapping token→id inside the kernel also sidesteps the other
    vocabulary-sized expression (`F.create_map` with |vocab| literal
    entries). NULL/empty inputs pass through as NULL/empty output."""
    import pyarrow as pa

    ranks = {(lr[0], lr[1]): k for k, lr in enumerate(merges)}
    merges = [tuple(m) for m in merges]
    b2u = bytes_to_unicode() if byte_level else None
    idmap = dict(ids) if ids is not None else None
    out_name = "ids" if idmap is not None else "tokens"
    out_type = pa.list_(pa.int32()) if idmap is not None \
        else pa.list_(pa.string())
    out_ddl = "array<int>" if idmap is not None else "array<string>"

    def _enc(batches):
        for batch in batches:
            col = batch.column(0)
            out = []
            for w in col.to_pylist():
                if w is None:
                    out.append(None)
                    continue
                syms = ([b2u[b] for b in w.encode("utf-8")]
                        if byte_level else list(w))
                toks = _apply_merges_py(syms, merges, ranks)
                if idmap is not None:
                    out.append([idmap.get(t, unk_id) for t in toks])
                else:
                    out.append(toks)
            yield pa.RecordBatch.from_arrays(
                [col, pa.array(out, type=out_type)], ["word", out_name])

    return words.select(F.col("word")).mapInArrow(
        _enc, f"word string, {out_name} {out_ddl}")


def word_counts(df: DataFrame, text_col: str,
                mode: str = "ascii") -> DataFrame:
    """Corpus word-frequency table — the single corpus scan BPE needs.

    A corpus-level aggregation: only the text column matters (no id
    parameter — r7 advisor note)."""
    return (
        df.select(F.explode(tokenize(text_col, mode)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


#: merge-count ceiling for the strict (rounds_batch=1) path — above it,
#: bpe_train auto-delegates to the batched path (see its docstring;
#: r10 VERDICT #6). 64 strict rounds ≈ 64 sequential jobs, a bounded
#: interactive cost; beyond that the per-merge driver roundtrip is the
#: dominant term at any corpus size.
BPE_STRICT_MAX_MERGES = 64


def bpe_train(
    df: DataFrame,
    text_col: str,
    num_merges: int = 8,
    mode: str = "ascii",
    byte_level: bool = False,
    rounds_batch: int = 1,
    strict_unbounded: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Learn ``num_merges`` BPE merges over the corpus.

    Returns ``(merges, vocab)``: merges = (rank, left, right, pair_count)
    in learned order (count-weighted argmax per round, ties broken
    left/right ascending — deterministic across engines); vocab =
    (word, cnt, seq) with each word's final symbol sequence in the
    padded doubled-space form.

    A round with no remaining pairs contributes no merge row and leaves
    the vocabulary unchanged (every later round would also be empty, so
    training stops there).

    ``byte_level=True`` trains over UTF-8 BYTE symbols (GPT-2 byte
    table) instead of characters: the base alphabet is the fixed 256
    byte symbols, so a trained tokenizer encodes ANY string losslessly
    (see :func:`bpe_encode_ids` byte fallback).

    ``rounds_batch`` (r8 VERDICT item #7 — the merge-count JOB ceiling):
    strict Sennrich order runs ONE localCheckpointed Spark round per
    merge, i.e. 32k merges = 32k sequential vocabulary-sized jobs —
    scheduler overhead alone is hours. ``rounds_batch=B > 1`` learns up
    to B merges per round: the round's pair counts are computed once,
    the top pairs are greedily selected under SYMBOL-DISJOINTNESS (no
    chosen pair shares a left/right symbol or its merged symbol with
    another), and all B replaces apply in one pass. Disjointness makes
    the application order-independent and keeps every chosen pair's
    count valid (merging one pair cannot create or destroy occurrences
    of a disjoint pair), so each chosen merge's recorded count is exact.
    This is a DOCUMENTED deviation from strict Sennrich order: a strict
    trainer recounts after every merge and could pick a pair CREATED by
    an earlier merge in the same batch before the batch's later picks.
    Default ``1`` = strict order (the oracle-twinned configuration).
    Candidate selection collects the top ``4·B`` pair rows — bounded
    tokenizer metadata, the centroid-table discipline.

    Production merge-count guard (r10 VERDICT #6): strict order is ONE
    driver-synchronized job per merge by construction (each argmax
    depends on the previous rewrite), so a production tokenizer
    (10k-32k merges) on the strict path is tens of thousands of
    sequential jobs — scheduler latency alone is hours before any data
    cost. Above :data:`BPE_STRICT_MAX_MERGES` merges the strict path
    AUTO-DELEGATES to the batched path (``rounds_batch=256``, with a
    ``UserWarning``), keeping
    Sennrich count ordering within each batch under the documented
    symbol-disjointness rule; jobs drop from O(num_merges) to
    O(num_merges/256). Callers that truly need strict order beyond the
    guard must opt in explicitly via ``strict_unbounded=True`` and own
    the job count."""
    if rounds_batch < 1:
        raise ValueError(f"rounds_batch must be >= 1, got {rounds_batch}")
    if (rounds_batch == 1 and not strict_unbounded
            and num_merges > BPE_STRICT_MAX_MERGES):
        warnings.warn(
            f"bpe_train: {num_merges} merges exceed BPE_STRICT_MAX_MERGES="
            f"{BPE_STRICT_MAX_MERGES}; training in batched order "
            "(rounds_batch=256). Pass strict_unbounded=True for strict "
            "Sennrich order.",
            stacklevel=2,
        )
        rounds_batch = 256
    from rs_graphdb_spark.session import local_df

    init = _byte_seq_init if byte_level else _seq_init
    vocab = word_counts(df, text_col, mode).select(
        "word", "cnt", init(F.col("word")).alias("seq")
    ).localCheckpoint()
    spark = df.sparkSession
    # Scale-adaptive round partitioning (guide §2): every training round
    # operates on the WORD VOCABULARY, which is orders of magnitude
    # smaller than the corpus (31 distinct words on the sf fixtures, ~10⁶
    # on a real corpus). Left at the corpus scan's partitioning, each of
    # the 2·num_merges round jobs schedules a full task wave to shuffle a
    # handful of rows — task overhead dominates training end to end. The
    # count is bounded metadata (one action on the already-checkpointed
    # vocab); ~50k words per partition keeps a production vocabulary
    # parallel while a small fixture trains on one task per round.
    n_words = vocab.count()
    want = max(1, min(spark.sparkContext.defaultParallelism,
                      n_words // 50_000 + 1))
    if vocab.rdd.getNumPartitions() > want:
        vocab = vocab.coalesce(want)
    merges = None
    if rounds_batch == 1:
        # Strict Sennrich order. The argmax itself is DISTRIBUTED (a
        # TakeOrdered over the pair-count aggregate — pair counts never
        # land on the driver); only the single winning row is collected,
        # the same bounded-tokenizer-metadata discipline as the batched
        # path's top-4B collect. r10: the collected literals replace the
        # old checkpoint-the-1-row + broadcast-join-back machinery (two
        # extra jobs and a broadcast build per round), and the vocabulary
        # rewrite chains LAZILY — one narrow `replace` projection per
        # round that whole-stage codegen collapses — with a checkpoint
        # only every few rounds to bound replay, so a round costs ONE
        # job. Same argmax ordering, same rewrite values; measured 2.5 s
        # -> 1.3 s for 6 merges at sf0.1.
        sel_rows: list[tuple] = []
        since_ckpt = 0
        for rank in range(num_merges):
            pair_counts = (
                vocab.select("cnt",
                             F.explode(_pairs(F.col("seq"))).alias("p"))
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("cnt").alias("pc"))
            )
            row = (
                pair_counts.orderBy(F.col("pc").desc(), "l", "r")
                .limit(1).collect()
            )
            if not row:
                break  # vocabulary fully merged — later rounds are no-ops
            l_, r_ = row[0]["l"], row[0]["r"]
            sel_rows.append((rank, l_, r_, int(row[0]["pc"])))
            vocab = vocab.select(
                "word", "cnt",
                F.replace(
                    F.col("seq"),
                    F.lit(f" {l_}  {r_} "),
                    F.lit(f" {l_}{r_} "),
                ).alias("seq"),
            )
            since_ckpt += 1
            if since_ckpt >= 8:
                vocab = vocab.localCheckpoint()
                since_ckpt = 0
        merges = local_df(
            spark, sel_rows, "rank int, l string, r string, pc bigint")
        return merges, vocab
    # batched rounds: the top-B pair rows are BOUNDED tokenizer metadata
    # (4·B rows collected per round — the centroid-table discipline);
    # selection is driver-side but vocabulary-sized, never corpus-sized
    rank = 0
    while rank < num_merges:
        batch = min(rounds_batch, num_merges - rank)
        pair_counts = (
            vocab.select("cnt", F.explode(_pairs(F.col("seq"))).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("pc"))
        )
        top = (
            pair_counts.orderBy(F.col("pc").desc(), "l", "r")
            .limit(4 * batch).collect()
        )
        used: set[str] = set()
        sel: list[tuple[str, str, int]] = []
        for r_ in top:
            l_, rr_ = r_["l"], r_["r"]
            if {l_, rr_, l_ + rr_} & used:
                continue
            sel.append((l_, rr_, int(r_["pc"])))
            used.update((l_, rr_, l_ + rr_))
            if len(sel) == batch:
                break
        if not sel:
            break  # no pairs left anywhere — vocabulary fully merged
        best = local_df(
            spark,
            [(rank + i, l_, rr_, pc)
             for i, (l_, rr_, pc) in enumerate(sel)],
            "rank int, l string, r string, pc bigint",
        ).localCheckpoint()
        merges = best if merges is None else merges.unionByName(best)
        seq = F.col("seq")
        for l_, rr_, _pc in sel:
            seq = F.replace(
                seq,
                F.lit(f" {l_}  {rr_} "),
                F.lit(f" {l_}{rr_} "),
            )
        vocab = vocab.select("word", "cnt", seq.alias("seq")) \
            .localCheckpoint()
        rank += len(sel)
    return merges, vocab


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
    mode: str = "ascii",
    byte_level: bool = False,
    broadcast_words: bool | str = False,
    encode_engine: str = "auto",
) -> DataFrame:
    """Encode documents with a learned merge list: (id, word_idx, tokens).

    The merge list is tokenizer metadata (num_merges rows — bounded like
    a centroid table), applied to the DISTINCT words of the input, then
    joined back onto the exploded corpus — one corpus scan,
    vocabulary-sized merge work, no per-document loop. Unseen words fall
    back transparently: they enter the distinct-word table and get the
    same merge applications.

    ``encode_engine`` routes HOW merges apply to the distinct words
    (r8 VERDICT item #1): ``"expr"`` = the nested-`F.replace` chain
    (pure codegen, twin-portable, but plan depth = merge count — only
    viable at small vocabularies); ``"arrow"`` = the
    :func:`_encode_words_arrow` kernel (per-word cost independent of
    merge-list size — the 32k-100k-merge production path); ``"auto"``
    (default) = expr below ``_BPE_ARROW_MIN_MERGES`` merges, arrow at
    or above it. Both produce identical tokens (parity pytest-pinned).

    ``broadcast_words`` gates the word-table join strategy (the
    ``score_bigram_lm(broadcast_lm=...)`` precedent): the distinct-word
    table is CORPUS-derived and unbounded at open-vocabulary web scale
    (URLs, typos, code tokens — 10⁸⁺ rows at 100 TB), so a forced
    broadcast would OOM executors there.

    - ``False`` (default): a ``shuffle_hash`` join — the open-vocabulary
      plan (no ``BroadcastExchange``), and ALSO the measured fastest at
      bench scale (sf0.1 isolated: 1.9 s vs 2.6 s forced-broadcast vs
      3.3 s unhinted SMJ — the hash build skips the sort, and the word
      table is the hinted build side so per-partition build stays
      bounded at any vocabulary size).
    - ``True``: force broadcast (known-bounded vocabulary only).
    - ``"auto"``: no hint — Catalyst/AQE decide.
    """
    words = (
        df.select(F.posexplode(tokenize(text_col, mode))
                  .alias("word_idx", "word"))
        .select("word").distinct()
    )
    if _use_arrow_encode(encode_engine, len(merges)):
        encoded = _encode_words_arrow(words, list(merges), byte_level)
    else:
        init = _byte_seq_init if byte_level else _seq_init
        seq = F.col("seq")
        for left, right in merges:
            seq = F.replace(
                seq,
                F.lit(f" {left}  {right} "),
                F.lit(f" {left}{right} "),
            )
        encoded = words.select(
            "word", init(F.col("word")).alias("seq")
        ).select("word", F.split(F.trim(seq), "  ").alias("tokens"))
    if broadcast_words is True:
        encoded = F.broadcast(encoded)
    elif broadcast_words is False:
        encoded = encoded.hint("shuffle_hash")
    elif broadcast_words != "auto":
        raise ValueError(
            f"broadcast_words must be True|False|'auto', got"
            f" {broadcast_words!r}")
    return (
        df.select(F.col(id_col),
                  F.posexplode(tokenize(text_col, mode))
                  .alias("word_idx", "word"))
        .join(encoded, "word")
        .select(id_col, "word_idx", "tokens")
    )


def bpe_artifact(merges: DataFrame, vocab: DataFrame,
                 byte_level: bool = False) -> dict:
    """Tokenizer artifact from a :func:`bpe_train` result: the ordered
    merge list plus the base alphabet. ids assign 0..|alphabet|−1 to the
    alphabet and one new id per merge in rank order — the standard BPE
    vocab shape.

    ``byte_level=True`` (pair with ``bpe_train(byte_level=True)``): the
    alphabet is the FIXED 256 GPT-2 byte symbols in byte order (ids 0-255
    == byte values), independent of the training corpus — the byte
    fallback that makes every string encodable with zero unks."""
    ml = [[r["l"], r["r"]] for r in merges.orderBy("rank").collect()]
    if byte_level:
        b2u = bytes_to_unicode()
        alphabet = [b2u[b] for b in range(256)]
    else:
        alphabet = sorted({
            ch
            for r in vocab.select(
                F.explode(F.split("word", "")).alias("c")
            ).filter(F.col("c") != "").distinct().collect()
            for ch in r["c"]
        })
    return {"merges": ml, "alphabet": alphabet, "byte_level": byte_level}


def save_bpe_artifact(artifact: dict, path: str) -> None:
    """Persist the tokenizer artifact (staged + atomic rename — the
    repo's manifest discipline)."""
    import json
    import os

    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(artifact, f, ensure_ascii=False)
    os.replace(tmp, path)


def load_bpe_artifact(path: str) -> dict:
    import json

    with open(path) as f:
        a = json.load(f)
    a["merges"] = [tuple(m) for m in a["merges"]]
    return a


def token_ids(artifact: dict) -> dict[str, int]:
    """token string → integer id: alphabet first (sorted), then one new
    symbol per merge in learned order (the id a trained model embeds)."""
    ids = {c: i for i, c in enumerate(artifact["alphabet"])}
    nxt = len(ids)
    for left, right in artifact["merges"]:
        sym = left + right
        if sym not in ids:
            ids[sym] = nxt
            nxt += 1
    return ids


def bpe_encode_ids(
    df: DataFrame,
    id_col: str,
    text_col: str,
    artifact: dict,
    mode: str = "ascii",
    unk_id: int = -1,
    broadcast_words: bool | str = False,
    encode_engine: str = "auto",
) -> DataFrame:
    """Encode documents to integer token-id sequences under a trained
    artifact: (id, word_idx, ids ARRAY<INT>). The vocab is bounded
    (alphabet + merges), so on the expression path the id lookup is a
    plan-literal MAP; on the arrow path (``encode_engine`` — routed
    like :func:`bpe_encode`) the kernel maps token→id directly, which
    also avoids a |vocab|-entry ``create_map`` expression at production
    vocabulary sizes. The encode stays one corpus scan plus the
    vocabulary-sized merge work either way.

    Char-level artifacts map symbols outside the vocab (unseen
    characters) to ``unk_id``; BYTE-LEVEL artifacts
    (``artifact["byte_level"]``) decompose every word into UTF-8 byte
    symbols whose 256 base ids always exist — zero unks on any input,
    and :func:`bpe_decode_ids` restores the exact word."""
    merges = list(artifact["merges"])
    byte_level = bool(artifact.get("byte_level"))
    if _use_arrow_encode(encode_engine, len(merges)):
        words = (
            df.select(F.posexplode(tokenize(text_col, mode))
                      .alias("word_idx", "word"))
            .select("word").distinct()
        )
        encoded = _encode_words_arrow(
            words, merges, byte_level, ids=token_ids(artifact),
            unk_id=unk_id)
        if broadcast_words is True:
            encoded = F.broadcast(encoded)
        elif broadcast_words is False:
            encoded = encoded.hint("shuffle_hash")
        elif broadcast_words != "auto":
            raise ValueError(
                f"broadcast_words must be True|False|'auto', got"
                f" {broadcast_words!r}")
        return (
            df.select(F.col(id_col),
                      F.posexplode(tokenize(text_col, mode))
                      .alias("word_idx", "word"))
            .join(encoded, "word")
            .select(id_col, "word_idx", "ids")
        )
    ids = token_ids(artifact)
    entries = []
    for tok, i in ids.items():
        entries.extend([F.lit(tok), F.lit(i)])
    idmap = F.create_map(*entries)
    enc = bpe_encode(
        df, id_col, text_col, merges, mode,
        byte_level=byte_level,
        broadcast_words=broadcast_words,
        encode_engine="expr",
    )
    return enc.select(
        id_col, "word_idx",
        F.transform(
            "tokens",
            lambda t: F.coalesce(F.element_at(idmap, t), F.lit(unk_id)),
        ).alias("ids"),
    )


def bpe_encode_strings(
    df: DataFrame,
    id_col: str,
    str_col: str,
    artifact: dict,
    broadcast_words: bool | str = False,
    encode_engine: str = "auto",
) -> DataFrame:
    """Encode a STRING column verbatim — no tokenizer — to token ids:
    (id, ids ARRAY<INT>). Byte-level artifacts only: every codepoint
    (emoji, punctuation, whitespace, any script) decomposes into UTF-8
    byte symbols whose 256 base ids always exist, so
    ``bpe_decode_ids(ids) == value`` for ANY string value. The byte
    symbols are space-free (GPT-2 table), so the padded doubled-space
    merge algebra is safe even for values containing literal spaces.

    Same join discipline as :func:`bpe_encode`: merges apply to the
    DISTINCT values, joined back under the ``broadcast_words`` gate.
    NULL values join null-safely and emit NULL ids (r8 advisor note —
    a null row is preserved, never silently dropped)."""
    if not artifact.get("byte_level"):
        raise ValueError("bpe_encode_strings requires a byte_level "
                         "artifact (char-level vocabularies are lossy)")
    merges = list(artifact["merges"])
    if _use_arrow_encode(encode_engine, len(merges)):
        vals = df.select(F.col(str_col).alias("word")).distinct()
        enc = _encode_words_arrow(
            vals, merges, byte_level=True, ids=token_ids(artifact)
        ).withColumnRenamed("word", "_v")
    else:
        ids = token_ids(artifact)
        entries = []
        for tok, i in ids.items():
            entries.extend([F.lit(tok), F.lit(i)])
        idmap = F.create_map(*entries)
        vals = (df.select(F.col(str_col).alias("_v")).distinct()
                .select("_v", _byte_seq_init(F.col("_v")).alias("seq")))
        seq = F.col("seq")
        for left, right in merges:
            seq = F.replace(seq, F.lit(f" {left}  {right} "),
                            F.lit(f" {left}{right} "))
        enc = vals.select(
            "_v",
            F.transform(
                F.array(F.split(F.trim(seq), "  ")),
                lambda t: F.when(
                    F.length(F.col("_v")) == 0, F.array().cast("array<int>")
                ).otherwise(
                    F.transform(t, lambda s: F.element_at(idmap, s))
                ),
            )[0].alias("ids"),
        )
    if broadcast_words is True:
        enc = F.broadcast(enc)
    elif broadcast_words is False:
        enc = enc.hint("shuffle_hash")
    elif broadcast_words != "auto":
        raise ValueError(
            f"broadcast_words must be True|False|'auto', got"
            f" {broadcast_words!r}")
    return (
        df.select(F.col(id_col), F.col(str_col).alias("_v"))
        .join(enc.withColumnRenamed("_v", "_w"),
              F.col("_v").eqNullSafe(F.col("_w")))
        .select(id_col, "ids")
    )


def bpe_decode_ids(ids: list[int], artifact: dict) -> str:
    """Inverse of :func:`bpe_encode_ids` for one token-id sequence
    (driver-side tokenizer metadata work — vocab-bounded, not a corpus
    job). Byte-level artifacts map symbols back through the GPT-2 byte
    table and UTF-8-decode, so ``decode(encode(word)) == word`` for ANY
    word; char-level artifacts concatenate symbols (unk ids raise)."""
    inv = {i: tok for tok, i in token_ids(artifact).items()}
    try:
        s = "".join(inv[i] for i in ids)
    except KeyError as e:
        raise ValueError(f"unknown token id {e.args[0]}") from None
    if artifact.get("byte_level"):
        u2b = unicode_to_bytes()
        return bytes(u2b[c] for c in s).decode("utf-8")
    return s


def bpe_sql(
    num_merges: int = 8,
    mode: str = "ascii",
    doc_table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[str, str]:
    """Generated DuckDB twin of :func:`bpe_train` + :func:`bpe_token_counts`
    (the html_to_text_sql / PSL generated-twin precedent): one CTE chain,
    one (pairs → argmax → replace) stage unrolled per merge, identical
    padded doubled-space string algebra. Returns
    ``(merges_sql, counts_sql)`` sharing the same prefix."""
    ctes, toks = _bpe_stage_ctes(num_merges, mode, doc_table, text_col)
    prefix = "WITH " + ",\n".join(ctes)
    merges_sql = prefix + "\n" + "\nUNION ALL\n".join(
        f"SELECT {i} AS rank, l, r, pc FROM b{i}" for i in range(num_merges)
    )
    counts_sql = prefix + f""",
        enc AS (SELECT word,
                       len(string_split(trim(seq), '  ')) AS ntok
                FROM v{num_merges}),
        docw AS (SELECT {id_col}, unnest({toks}) AS word FROM {doc_table})
        SELECT {id_col}, sum(ntok) AS n_bpe_tokens
        FROM docw JOIN enc USING (word) GROUP BY {id_col}
    """
    return merges_sql, counts_sql


def _bpe_stage_ctes(
    num_merges: int,
    mode: str,
    doc_table: str,
    text_col: str,
) -> tuple[list[str], str]:
    """The shared (pairs → argmax → replace)-per-merge CTE prefix of the
    generated BPE twins (:func:`bpe_sql`, :func:`bpe_tokpack_sql`)."""
    from rs_graphdb_spark.functions.text import tokenize_sql

    toks = tokenize_sql(text_col, mode)
    ctes = [
        f"""w AS MATERIALIZED (
            SELECT word, count(*) AS cnt FROM (
                SELECT unnest({toks}) AS word FROM {doc_table}
            ) GROUP BY word
        )""",
        r"""v0 AS MATERIALIZED (
            SELECT word, cnt,
                   ' ' || replace(trim(regexp_replace(word, '(.)', '\1 ',
                                                      'g')),
                                  ' ', '  ') || ' ' AS seq
            FROM w
        )""",
    ]
    for i in range(num_merges):
        ctes.append(f"""p{i} AS (
            SELECT p.l AS l, p.r AS r, sum(cnt) AS pc FROM (
                SELECT cnt,
                       unnest(list_transform(range(1, len(t)),
                              i -> struct_pack(l := t[i], r := t[i+1]))) AS p
                FROM (SELECT cnt, string_split(trim(seq), '  ') AS t
                      FROM v{i})
            ) GROUP BY 1, 2
        )""")
        ctes.append(f"""b{i} AS MATERIALIZED (
            SELECT l, r, pc FROM p{i}
            ORDER BY pc DESC, l, r LIMIT 1
        )""")
        ctes.append(f"""v{i + 1} AS MATERIALIZED (
            SELECT word, cnt,
                   CASE WHEN b.l IS NULL THEN seq
                        ELSE replace(seq, ' ' || b.l || '  ' || b.r || ' ',
                                     ' ' || b.l || b.r || ' ')
                   END AS seq
            FROM v{i} LEFT JOIN b{i} b ON TRUE
        )""")
    return ctes, toks


def bpe_tokpack_sql(
    num_merges: int = 6,
    budget: int = 2048,
    shards: int = 8,
    mode: str = "ascii",
    doc_table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Generated DuckDB twin of the tokenize-and-pack serving
    composition (r9 VERDICT item #6): :func:`bpe_train` →
    :func:`bpe_artifact` id assignment (sorted alphabet first, then one
    id per merge in rank order, first-wins on duplicate merge symbols —
    :func:`token_ids` exactly) → :func:`bpe_encode_ids` per-doc id
    sequences (word order) → ``pack_greedy`` md5-shard/prefix-sum
    bins. One row per (shard, bin): doc count ``nd``, id count ``nt``,
    and ``h`` = md5 over the bin's comma-joined ids in doc order — the
    packed-sequence CONTENTS, ids not tokens."""
    ctes, toks = _bpe_stage_ctes(num_merges, mode, doc_table, text_col)
    msym_union = "\nUNION ALL\n".join(
        f"SELECT l || r AS sym, {i} AS rank FROM b{i}"
        for i in range(num_merges)
    )
    ctes += [
        # alphabet ids: v0's seq tokens ARE the corpus characters
        """alpha AS MATERIALIZED (
            SELECT sym, row_number() OVER (ORDER BY sym) - 1 AS id
            FROM (SELECT DISTINCT unnest(string_split(trim(seq), '  '))
                         AS sym FROM v0)
        )""",
        f"msyms AS ({msym_union})",
        # one id per NEW merge symbol in rank order (token_ids shape)
        """mfirst AS (
            SELECT sym, min(rank) AS rank FROM msyms
            WHERE sym NOT IN (SELECT sym FROM alpha) GROUP BY sym
        )""",
        """mid AS (
            SELECT sym, (SELECT count(*) FROM alpha) - 1
                        + row_number() OVER (ORDER BY rank) AS id
            FROM mfirst
        )""",
        """idmap AS MATERIALIZED (
            SELECT sym, id FROM alpha UNION ALL SELECT sym, id FROM mid
        )""",
        f"""wtok AS (
            SELECT word, generate_subscripts(t, 1) AS ti,
                   unnest(t) AS tok
            FROM (SELECT word, string_split(trim(seq), '  ') AS t
                  FROM v{num_merges})
        )""",
        """wids AS MATERIALIZED (
            SELECT word,
                   string_agg(CAST(id AS VARCHAR), ',' ORDER BY ti)
                       AS ids_str,
                   count(*) AS ntok
            FROM wtok JOIN idmap ON wtok.tok = idmap.sym
            GROUP BY word
        )""",
        f"""docw AS (
            SELECT {id_col}, generate_subscripts({toks}, 1) AS wi,
                   unnest({toks}) AS word
            FROM {doc_table}
        )""",
        f"""dids AS MATERIALIZED (
            SELECT {id_col} AS doc_id,
                   string_agg(ids_str, ',' ORDER BY wi) AS ids_str,
                   CAST(sum(ntok) AS BIGINT) AS n_ids
            FROM docw JOIN wids USING (word) GROUP BY 1
        )""",
        f"""pk AS (
            SELECT doc_id, n_ids, ids_str, shard,
                   coalesce(sum(n_ids) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS pre
            FROM (SELECT doc_id, n_ids, ids_str,
                         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                         1, 8))::BIGINT % {shards}
                             AS shard
                  FROM dids)
        )""",
    ]
    return "WITH " + ",\n".join(ctes) + f"""
        SELECT shard, CAST(floor(pre / {budget}) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS nd,
               CAST(sum(n_ids) AS BIGINT) AS nt,
               md5(string_agg(ids_str, '|' ORDER BY doc_id)) AS h
        FROM pk GROUP BY 1, 2
    """


def bpe_token_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
    mode: str = "ascii",
    byte_level: bool = False,
    broadcast_words: bool | str = False,
    encode_engine: str = "auto",
) -> DataFrame:
    """Per-document BPE token count under a learned merge list — the
    token-budget accountant for mixture planning / packing when budgets
    are in subword units rather than words."""
    enc = bpe_encode(df, id_col, text_col, merges, mode,
                     byte_level=byte_level, broadcast_words=broadcast_words,
                     encode_engine=encode_engine)
    return (
        enc.groupBy(id_col)
        .agg(F.sum(F.size("tokens")).alias("n_bpe_tokens"))
    )
