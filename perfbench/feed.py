"""Seeded CouchDB-shaped change feed and its sequential model.

The engine only ever sees the JSON-lines files this module writes: one
row per change, ``{"seq", "id", "deleted", "doc"}`` with ``doc`` the
document's JSON text (the ``read_change_stream`` schema). Documents are
shaped like the reference's "articles" database: ``_id``, a ``_rev``
chain ``n-hash``, a ``type`` discriminator with per-type extra keys, a
Zipf-skewed ``feedName``, ``read`` as the strings ``"true"``/``"false"``,
the README flagship's numeric-as-string ``myvar``, ``title``/``body``
text drawn from a Zipf vocabulary and a 16-dim ``embedding``.

Change mix after the initial inserts: ~10% inserts of new ids, ~5%
deletes, the rest updates whose keys are Zipf-skewed, so hot docs change
several times inside one batch. An update that picks a deleted id
re-creates it with the next rev (CouchDB keeps the rev chain).

:class:`Model` replays the changes sequentially with last-write-wins and
is the correctness oracle for the final mirror. Everything here is pure
stdlib and depends only on the seed.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random

DIM = 16
N_FEEDS = 50
VOCAB = 3000
TYPES = {  # type -> (weight, its extra key)
    "article": (0.6, "link"),
    "podcast": (0.2, "duration"),
    "video": (0.15, "resolution"),
    "note": (0.05, "pinned"),
}
INSERT_SHARE = 0.10
DELETE_SHARE = 0.05
N_CENTRES = 12


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (r**s) for r in range(1, n + 1)))


def _word(i: int) -> str:
    # pronounceable, unique, never a number: the default tokenizer splits
    # on spaces only, so a term is exactly one of these strings
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    out = ""
    i += 1
    while i:
        i, r = divmod(i, len(cons) * len(vows))
        out += cons[r % len(cons)] + vows[r // len(cons)]
    return out


class Feed:
    """A seeded document universe plus a change generator over it."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seed = seed
        self.words = [_word(i) for i in range(VOCAB)]
        self.word_cum = _zipf_cum(VOCAB, 1.07)
        self.feeds = [f"feed-{i:02d}" for i in range(N_FEEDS)]
        self.feed_cum = _zipf_cum(N_FEEDS, 1.2)
        self.types = list(TYPES)
        self.type_cum = list(itertools.accumulate(w for w, _ in TYPES.values()))
        self.centres = [
            [self.rng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(N_CENTRES)
        ]
        self.ids: list[str] = []  # every id ever created, in creation order
        self.rev: dict[str, int] = {}
        self.live: set[str] = set()
        self.seq = 0

    # -- documents -------------------------------------------------------
    def _text(self, n: int) -> str:
        return " ".join(
            self.rng.choices(self.words, cum_weights=self.word_cum, k=n)
        )

    def _doc(self, doc_id: str) -> str:
        n = self.rev[doc_id]
        rev_hash = hashlib.md5(f"{self.seed}/{doc_id}/{n}".encode()).hexdigest()
        rng = self.rng
        typ = rng.choices(self.types, cum_weights=self.type_cum)[0]
        centre = self.centres[rng.randrange(N_CENTRES)]
        doc = {
            "_id": doc_id,
            "_rev": f"{n}-{rev_hash}",
            "type": typ,
            "feedName": rng.choices(self.feeds, cum_weights=self.feed_cum)[0],
            "read": "true" if rng.random() < 0.7 else "false",
            "myvar": str(rng.randrange(0, 200)),
            "title": self._text(rng.randint(3, 7)),
            "body": self._text(rng.randint(15, 40)),
            "embedding": [round(c + rng.gauss(0.0, 0.35), 4) for c in centre],
        }
        doc[TYPES[typ][1]] = str(rng.randrange(1000))
        return json.dumps(doc, separators=(",", ":"))

    # -- changes ---------------------------------------------------------
    def _emit(self, doc_id: str, deleted: bool) -> dict:
        self.seq += 1
        self.rev[doc_id] = self.rev.get(doc_id, 0) + 1
        if deleted:
            self.live.discard(doc_id)
            doc = None
        else:
            self.live.add(doc_id)
            doc = self._doc(doc_id)
        return {"seq": self.seq, "id": doc_id, "deleted": deleted, "doc": doc}

    def _new_id(self) -> str:
        doc_id = f"art-{len(self.ids):07d}"
        self.ids.append(doc_id)
        return doc_id

    def inserts(self, n: int) -> list[dict]:
        return [self._emit(self._new_id(), False) for _ in range(n)]

    def _hot(self) -> str:
        # Zipf(s=1.1) rank by inverse-CDF sampling, then a fixed
        # multiplicative scramble of ranks onto creation order, so hot
        # docs are spread over the mirror's hash buckets
        n, s = len(self.ids), 1.1
        u = self.rng.random()
        r = int((((n + 1) ** (1 - s) - 1) * u + 1) ** (1 / (1 - s))) - 1
        return self.ids[(min(r, n - 1) * 1_000_003) % n]

    def churn(self, n: int) -> list[dict]:
        """``n`` changes of the steady-state mix."""
        out = []
        for _ in range(n):
            u = self.rng.random()
            if u < INSERT_SHARE or not self.live:
                out.append(self._emit(self._new_id(), False))
            elif u < INSERT_SHARE + DELETE_SHARE:
                doc_id = self.ids[self.rng.randrange(len(self.ids))]
                while doc_id not in self.live:
                    doc_id = self.ids[self.rng.randrange(len(self.ids))]
                out.append(self._emit(doc_id, True))
            else:
                out.append(self._emit(self._hot(), False))
        return out

    # -- queries ---------------------------------------------------------
    def bm25_queries(self, n: int, n_head: int = 50) -> list[tuple[str, str]]:
        """(query_id, term) rows; each query mixes one head term (a
        frequent word the cost gate refuses to prune) with tail terms,
        or uses only tail terms (the gate accepts), alternately."""
        rows = []
        for q in range(n):
            qid = f"bq-{q:04d}"
            terms = {self.words[self.rng.randrange(n_head, VOCAB // 2)]
                     for _ in range(2)}
            if q % 2 == 0:
                terms.add(self.words[self.rng.randrange(n_head)])
            rows += [(qid, t) for t in sorted(terms)]
        return rows

    def vector_queries(self, n: int) -> list[tuple[str, list[float]]]:
        # ids from a namespace disjoint from doc ids: vector_topk_live
        # drops a neighbour whose id equals the query id
        return [
            (
                f"vq-{q:04d}",
                [round(c + self.rng.gauss(0.0, 0.35), 4)
                 for c in self.centres[self.rng.randrange(N_CENTRES)]],
            )
            for q in range(n)
        ]


def write_changes(changes: list[dict], path: str) -> int:
    """Write one JSON-lines change file; returns its size in bytes."""
    data = "".join(json.dumps(c, separators=(",", ":")) + "\n" for c in changes)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(data)
    return len(data.encode("utf-8"))


class Model:
    """Sequential last-write-wins replay of a change list: the expected
    final ``id -> doc`` set of the mirror."""

    def __init__(self) -> None:
        self.docs: dict[str, str] = {}

    def apply(self, changes: list[dict]) -> None:
        for c in sorted(changes, key=lambda c: c["seq"]):
            if c["deleted"]:
                self.docs.pop(c["id"], None)
            else:
                self.docs[c["id"]] = c["doc"]

    @property
    def live_count(self) -> int:
        return len(self.docs)

    def live_bytes(self) -> int:
        return sum(len(d.encode("utf-8")) for d in self.docs.values())

    def digest(self) -> str:
        """Order-independent digest over ``(id, doc)`` rows; the mirror
        side computes the same from per-row SHA-256s (see
        :func:`row_hash`)."""
        return combine(row_hash(i, d) for i, d in self.docs.items())


def row_hash(doc_id: str, doc: str) -> str:
    return hashlib.sha256(f"{doc_id}\t{doc}".encode("utf-8")).hexdigest()


def combine(row_hashes) -> str:
    h = hashlib.sha256()
    for r in sorted(row_hashes):
        h.update(r.encode("ascii"))
    return h.hexdigest()
