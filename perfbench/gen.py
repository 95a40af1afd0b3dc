"""Seeded synthetic inputs for the benchmark, with their ground truth.

Everything here is pure Python and a pure function of the seed: the
same seed writes byte-identical files and returns identical truth.
Telegram exports follow the desktop-export shape of
``tests/data/make_fixture.py`` (``text_entities``, media markers,
service messages, replies, forwards); corpus documents are recombined
sentences over a fixed synthetic vocabulary with planted exact clones
and near-duplicates.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import random
import re
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

_SYLLABLES = (
    "ka lo mi ren tas vor el pan dri sol mun te ra gi fa no bel cor dun "
    "hal is jor kev lin mar nes or pel qua rus sen tor ul ves wyn xan yor zel"
).split()
_FUNCTION_WORDS = "the and of to in is that for on with as at by from".split()
_WS = re.compile(r"\s+", re.ASCII)


def _vocabulary(n: int = 3000) -> list[str]:
    """A fixed pseudo-word vocabulary (independent of the seed)."""
    words = []
    for a, b, c in itertools.product(_SYLLABLES, repeat=3):
        words.append(a + b + c)
        if len(words) == n:
            break
    return words


VOCAB = _vocabulary()
# Zipf(1.1) cumulative weights over VOCAB: natural-text token skew
_ZIPF_CUM = list(itertools.accumulate(1.0 / (r + 1) ** 1.1 for r in range(len(VOCAB))))


def zipf_words(rng: random.Random, k: int) -> list[str]:
    return rng.choices(VOCAB, cum_weights=_ZIPF_CUM, k=k)


def n_tokens(text: str) -> int:
    """Token count as ``functions.exprs.tokens`` defines it."""
    return len([t for t in _WS.split(text.strip()) if t])


def hash_embed(texts: list[str], dim: int = 64) -> np.ndarray:
    """Independent numpy twin of the default ``embed_text`` encoder:
    lowercased ASCII-whitespace tokens -> md5 -> (bucket, sign),
    l2-normalized, float32. Used for brute-force search checks."""
    out = np.zeros((len(texts), dim), dtype=np.float64)
    cache: dict[str, tuple[int, float]] = {}
    for i, t in enumerate(texts):
        for tok in _WS.split(t.lower()):
            if not tok:
                continue
            bs = cache.get(tok)
            if bs is None:
                h = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
                bs = cache[tok] = (h % dim, 1.0 if (h >> 63) & 1 == 0 else -1.0)
            out[i, bs[0]] += bs[1]
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    np.divide(out, norms, out=out, where=norms > 0)
    return out.astype(np.float32)


# --------------------------------------------------------------- telegram


@dataclass
class Message:
    """One delivered, non-service message as the loader must normalize it."""

    chat_id: int
    message_id: int
    date: datetime
    from_id: int
    text: str


@dataclass
class Export:
    raw: dict
    messages: list[Message] = field(default_factory=list)


_T0 = datetime(2024, 1, 1, 8, 0, 0)


def _fmt(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def _gap(rng: random.Random, lo: int, hi: int, avoid: tuple[int, ...] = (300, 7200)) -> int:
    """Seconds in [lo, hi], never exactly on a sessionization boundary
    (the 5m clustering and 2h long-group windows), so the recomputed
    ground truth cannot disagree with the engine on a tie."""
    g = rng.randint(lo, hi)
    return g + 1 if g in avoid else g


def make_chat(
    rng: random.Random,
    chat_id: int,
    n_messages: int,
    first_message_id: int = 1,
    t0: datetime = _T0,
    rare_terms: dict[int, str] | None = None,
) -> Export:
    """One chat: topical bursts of messages (so clustering forms real
    groups), a few authors who post runs of long messages (so the
    long-message-group query has work), and every export feature the
    loader normalizes. ``rare_terms`` maps a message ordinal to a term
    appended to that message's text (planted search targets)."""
    authors = [chat_id * 100 + a for a in range(rng.randint(3, 9))]
    raw_msgs: list[dict] = []
    truth: list[Message] = []
    t = t0 + timedelta(seconds=rng.randint(0, 86_400))
    mid = first_message_id
    topic: list[str] = []
    burst_left = 0
    author = authors[0]
    for i in range(n_messages):
        if burst_left == 0:
            topic = zipf_words(rng, 4)
            burst_left = rng.randint(3, 25)
            t += timedelta(seconds=_gap(rng, 600, 18_000))
            author = rng.choice(authors)
        else:
            t += timedelta(seconds=_gap(rng, 5, 240))
            if rng.random() < 0.3:
                author = rng.choice(authors)
        burst_left -= 1
        msg: dict = {
            "id": mid,
            "type": "message",
            "date": _fmt(t),
            "from": f"User {author}",
            "from_id": f"user{author}",
        }
        r = rng.random()
        if r < 0.03:
            msg.update(type="service", text="", action="pin_message")
            raw_msgs.append(msg)
            mid += 1
            continue
        if r < 0.08:
            path = f"photos/photo_{chat_id}_{mid}.jpg"
            msg.update(text="", photo=path)
            text = f"[photo]({path})"
        elif r < 0.11:
            path = f"voice/{chat_id}_{mid}.ogg"
            msg.update(text="", media_type="voice_message", file=path)
            text = f"[voice_message]({path})"
        elif r < 0.13:
            name = f"doc_{chat_id}_{mid}.pdf"
            msg.update(text="", media_type="document", file_name=name)
            text = f"[document]({name})"
        elif r < 0.20:
            link = f"https://example.org/{rng.choice(topic)}/{mid}"
            msg["text"] = ""
            msg["text_entities"] = [
                {"type": "plain", "text": f"{' '.join(topic[:2])} see "},
                {"type": "link", "text": link},
            ]
            text = f"{' '.join(topic[:2])} see {link}"
        else:
            # a third of text messages are long (>= 10 tokens)
            k = rng.randint(10, 30) if rng.random() < 0.33 else rng.randint(3, 9)
            words = rng.sample(topic, 2) + zipf_words(rng, k - 2)
            rng.shuffle(words)
            text = " ".join(words)
            msg["text"] = text
        if rare_terms and i in rare_terms:
            text = f"{text} {rare_terms[i]}"
            if "text_entities" in msg:
                msg["text_entities"].append({"type": "plain", "text": f" {rare_terms[i]}"})
            else:
                msg.update(text=text)
                for key in ("photo", "media_type", "file", "file_name"):
                    msg.pop(key, None)
        if raw_msgs and rng.random() < 0.1:
            msg["reply_to_message_id"] = raw_msgs[-1]["id"]
        if rng.random() < 0.05:
            msg["forwarded_from"] = f"Channel {rng.randint(1, 20)}"
        if rng.random() < 0.05:
            del msg["type"]  # records without a type are plain messages
        raw_msgs.append(msg)
        truth.append(Message(chat_id, mid, t, author, text))
        mid += 1
    raw = {
        "name": f"Chat {chat_id}",
        "type": "private_group" if chat_id % 2 else "personal_chat",
        "id": chat_id,
        "messages": raw_msgs,
    }
    return Export(raw, truth)


def write_export(path: str, chats: list[Export], name: str = "export") -> None:
    with open(path, "w") as fh:
        json.dump({"name": name, "chats": {"list": [c.raw for c in chats]}}, fh)


def zipf_sizes(rng: random.Random, n_chats: int, total: int, cap: int, floor: int = 20) -> list[int]:
    """Zipf(1) chat sizes summing to ``total``, each in [floor, cap].
    Rank order is shuffled so the biggest chat lands in a random file."""
    if not n_chats * floor <= total <= n_chats * cap:
        raise ValueError(f"{total} messages do not fit {n_chats} chats of {floor}..{cap}")
    w = [1.0 / (r + 1) for r in range(n_chats)]
    raw = [max(floor, min(cap, int(total * x / sum(w)))) for x in w]
    # spread the remainder over chats with headroom, largest first
    deficit = total - sum(raw)
    i = 0
    while deficit > 0:
        if raw[i % n_chats] < cap:
            raw[i % n_chats] += 1
            deficit -= 1
        i += 1
    rng.shuffle(raw)
    return raw


def long_group_count(messages: list[Message], min_words: int = 10, min_consecutive: int = 3,
                     gap_s: int = 7200) -> int:
    """Python recomputation of ``find_long_message_groups``'s row count:
    long messages sessionized per (chat, author) with a gap > 2h break,
    sessions of >= 3 messages."""
    by_key: dict[tuple[int, int], list[tuple[datetime, int]]] = {}
    for m in messages:
        if n_tokens(m.text) >= min_words:
            by_key.setdefault((m.chat_id, m.from_id), []).append((m.date, m.message_id))
    groups = 0
    for rows in by_key.values():
        rows.sort()
        run = 0
        prev = None
        for d, _ in rows:
            if prev is not None and (d - prev).total_seconds() > gap_s:
                groups += run >= min_consecutive
                run = 0
            run += 1
            prev = d
        groups += run >= min_consecutive
    return groups


def _plant(rng: random.Random, sizes: list[int], n_rare: int, hits_per_term: int
           ) -> tuple[list[str], dict[int, dict[int, str]]]:
    """Seeded rare terms, each assigned to ``hits_per_term`` distinct
    (chat index, message ordinal) slots."""
    terms = [f"zq{rng.randrange(16**8):08x}" for _ in range(n_rare)]
    plant: dict[int, dict[int, str]] = {}
    for term in terms:
        for _ in range(hits_per_term):
            while True:
                c = rng.randrange(len(sizes))
                i = rng.randrange(sizes[c])
                if i not in plant.setdefault(c, {}):
                    plant[c][i] = term
                    break
    return terms, plant


@dataclass
class Journey:
    files: list[str]
    messages: list[Message]
    chat_counts: dict[int, int]
    long_groups: int
    planted: dict[str, set[tuple[int, int]]]  # rare term -> {(chat_id, message_id)}


def journey_input(rng: random.Random, workdir: str, n_files: int, total: int, chats_per_file: int,
                  cap: int, n_rare: int = 12, hits_per_term: int = 3) -> Journey:
    """Tenant export files with Zipf chat sizes capped at ``cap``, and
    ``n_rare`` rare terms each planted into ``hits_per_term`` messages,
    so a lexical query for the term has a known, exact answer set."""
    sizes = zipf_sizes(rng, n_files * chats_per_file, total, cap)
    terms, plant = _plant(rng, sizes, n_rare, hits_per_term)
    files, messages = [], []
    for f in range(n_files):
        chats = []
        for c in range(chats_per_file):
            k = f * chats_per_file + c
            chats.append(make_chat(rng, 10_000 + k, sizes[k], rare_terms=plant.get(k)))
        path = f"{workdir}/tenant_{f}.json"
        write_export(path, chats, name=f"tenant {f}")
        files.append(path)
        messages += [m for ch in chats for m in ch.messages]
    counts: dict[int, int] = {}
    planted: dict[str, set[tuple[int, int]]] = {t: set() for t in terms}
    for m in messages:
        counts[m.chat_id] = counts.get(m.chat_id, 0) + 1
        last = m.text.rsplit(" ", 1)[-1]
        if last in planted:
            planted[last].add((m.chat_id, m.message_id))
    return Journey(files, messages, counts, long_group_count(messages), planted)


@dataclass
class Ingest:
    base_file: str
    batch_files: list[str]
    delivered: list[int]  # non-service messages in each batch, re-deliveries included
    distinct_after: list[int]  # distinct keys expected after base, then each batch


def ingest_input(rng: random.Random, workdir: str, base_total: int, n_chats: int, n_batches: int,
                 batch_new: int, redeliver_frac: float = 0.2) -> Ingest:
    """A base export held in the table, then delivery batches: each a
    small export of ``batch_new`` new messages (continuing the chats'
    id sequences) plus ``redeliver_frac`` of that many re-delivered
    messages, sampled from what each chat delivered before."""
    per_chat = [base_total // n_chats] * n_chats
    chats = [make_chat(rng, 30_000 + c, per_chat[c]) for c in range(n_chats)]
    base_file = f"{workdir}/base.json"
    write_export(base_file, chats)
    by_chat: dict[int, list[dict]] = {30_000 + c: list(ch.raw["messages"]) for c, ch in enumerate(chats)}
    keys = {(m.chat_id, m.message_id) for ch in chats for m in ch.messages}
    next_id = {cid: max(m["id"] for m in msgs) + 1 for cid, msgs in by_chat.items()}
    last_t = {cid: datetime.strptime(msgs[-1]["date"], "%Y-%m-%dT%H:%M:%S")
              for cid, msgs in by_chat.items()}
    distinct_after = [len(keys)]
    files, delivered = [], []
    for b in range(n_batches):
        share = zipf_sizes(rng, n_chats, batch_new, cap=batch_new, floor=1)
        batch_chats: list[dict] = []
        n = 0
        for c, cid in enumerate(sorted(by_chat)):
            fresh = make_chat(rng, cid, share[c], first_message_id=next_id[cid], t0=last_t[cid])
            next_id[cid] += share[c]
            if fresh.messages:
                last_t[cid] = fresh.messages[-1].date
            keys.update((m.chat_id, m.message_id) for m in fresh.messages)
            # re-deliveries: earlier messages of this chat, sent again
            earlier = [m for m in by_chat[cid] if m.get("type") != "service"]
            again = rng.sample(earlier, min(len(earlier), round(share[c] * redeliver_frac)))
            msgs = fresh.raw["messages"] + again
            n += len(fresh.messages) + len(again)
            by_chat[cid] += fresh.raw["messages"]
            batch_chats.append({**fresh.raw, "messages": msgs})
        path = f"{workdir}/batch_{b:02d}.json"
        with open(path, "w") as fh:
            json.dump({"name": f"delivery {b}", "chats": {"list": batch_chats}}, fh)
        files.append(path)
        delivered.append(n)
        distinct_after.append(len(keys))
    return Ingest(base_file, files, delivered, distinct_after)


# ----------------------------------------------------------------- corpus


@dataclass
class Corpus:
    docs: list[tuple[int, str]]
    clones: dict[int, int]  # planted exact clone id -> original id
    near: dict[int, int]  # planted near-duplicate id -> original id


def _sentence(rng: random.Random) -> str:
    k = rng.randint(6, 18)
    words = zipf_words(rng, k)
    for j in range(0, k, rng.randint(3, 5)):
        words.insert(j, rng.choice(_FUNCTION_WORDS))
    return " ".join(words).capitalize() + "."


def corpus_input(rng: random.Random, n_docs: int, clone_frac: float = 0.1,
                 near_frac: float = 0.1) -> Corpus:
    """``n_docs`` documents: recombined sentences from a seeded sentence
    pool, then ``clone_frac`` byte-identical clones and ``near_frac``
    near-duplicates (one word in ~30 replaced) of random originals."""
    pool = [_sentence(rng) for _ in range(max(200, n_docs // 2))]
    n_orig = n_docs - int(n_docs * clone_frac) - int(n_docs * near_frac)
    docs = []
    for i in range(n_orig):
        docs.append((i, " ".join(rng.sample(pool, rng.randint(6, 30)))))
    clones, near = {}, {}
    next_id = n_orig
    for _ in range(int(n_docs * clone_frac)):
        src = rng.randrange(n_orig)
        docs.append((next_id, docs[src][1]))
        clones[next_id] = src
        next_id += 1
    for _ in range(int(n_docs * near_frac)):
        src = rng.randrange(n_orig)
        words = docs[src][1].split(" ")
        for _ in range(max(1, len(words) // 30)):
            j = rng.randrange(len(words))
            words[j] = rng.choice([w for w in rng.sample(VOCAB, 2) if w != words[j]])
        docs.append((next_id, " ".join(words)))
        near[next_id] = src
        next_id += 1
    # ids are shuffled so planted copies are not all at the top of the id range
    perm = list(range(len(docs)))
    rng.shuffle(perm)
    docs = [(perm[i], t) for i, t in docs]
    return Corpus(
        docs,
        {perm[c]: perm[s] for c, s in clones.items()},
        {perm[c]: perm[s] for c, s in near.items()},
    )

