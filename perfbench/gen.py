"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. The engine only ever sees the files; the expected
results (the sync model, the planted contamination list) stay on this side
and are what the output checks compare against.
"""
import calendar
import json
from json.encoder import encode_basestring_ascii
import os
import random
import time
from dataclasses import dataclass, field, replace

# ---------------------------------------------------------------- time helpers

MS_HOUR = 3_600_000
MS_DAY = 24 * MS_HOUR
# 2016-01-01T00:00:00Z .. the bootstrap watermark 2026-01-01T00:00:00Z:
# 120 creation months, the snapshot's partitions
T0 = 1_767_225_600_000
MONTHS = 120


def month_start(i):
    """Epoch ms of the first instant of month i (0 = 2016-01)."""
    y, m = 2016 + i // 12, i % 12 + 1
    return calendar.timegm((y, m, 1, 0, 0, 0)) * 1000


def month_key(ms):
    """The snapshot partition value of a createdAt: yyyymm as an int."""
    t = time.gmtime(ms // 1000)
    return t.tm_year * 100 + t.tm_mon


FORMATS = ("iso_millis", "iso_seconds", "epoch_millis")


def render_ts(ms, fmt):
    """Render epoch ms in one of the three landed timestamp formats. The
    ISO-seconds form cannot carry millis, so callers floor first."""
    if fmt == "epoch_millis":
        return str(ms)
    t = time.gmtime(ms // 1000)
    base = time.strftime("%Y-%m-%dT%H:%M:%S", t)
    if fmt == "iso_millis":
        return f"{base}.{ms % 1000:03d}Z"
    assert ms % 1000 == 0, "ISO-seconds timestamps must be whole seconds"
    return base + "Z"


def pick_ts(rng, lo, hi):
    """A timestamp in (lo, hi] rendered in a random format; returns
    (ms, text) with ms already floored to the format's precision. lo is
    kept strictly below the result even after flooring."""
    fmt = rng.choice(FORMATS)
    ms = rng.randint(lo + 1000, hi)
    if fmt == "iso_seconds":
        ms -= ms % 1000
    return ms, render_ts(ms, fmt)


# ---------------------------------------------------------------- sync inputs

# sync_deltas: a 30k-object snapshot over 120 creation-month partitions
# (100+ partitions, as the workload calls for); each cycle lands ~1% of
# the rows, the top of the 0.1-1% range the workload targets, skewed
# toward the newest partitions. The object count, 3%/month growth and
# hourly cadence are unverified assumptions sized so a bootstrap fits a
# run's set-up.
OBJECTS = 30_000
BATCH_ROWS = 300
CYCLE_MS = MS_HOUR        # landed-watermark step between cycles
BATCHES = 24              # pre-generated; the timed loop stops on time

# Landed-row mix of one batch, as shares of BATCH_ROWS. The KINDS come
# from the reference (SURVEY.md K3/I3): its MERGE skips a matched row whose
# cursor is unchanged (re-sends), pre-checks duplicate pks in the source,
# re-scans archived objects as flag updates (tombstones), and its cursor
# filter is replay-safe (stale versions). The SHARES are unverified
# assumptions: nothing in the reference or its probes gives them. They are
# chosen so each kind is present in every 300-row batch (5% = 15 rows) and
# updates dominate, as on a CRM whose objects are edited far more often
# than created; they fix operators.upsert_applied_ratio at 0.75.
MIX = {"update": 0.55, "duplicate": 0.05, "insert": 0.15, "tombstone": 0.05,
       "resend": 0.15, "stale": 0.05}

INDUSTRIES = ("saas", "retail", "energy", "health", "finance", "media", "logistics")
STAGES = ("lead", "mql", "sql", "opportunity", "customer", "evangelist")


@dataclass
class Obj:
    """One object as the snapshot should hold it."""
    id: str
    created: int           # epoch ms, immutable
    updated: int           # epoch ms (tombstones carry the +1 s bump)
    properties: str
    associations: str
    archived: bool
    emitted_id: str
    created_text: str      # createdAt exactly as first landed

    def row(self):
        return {"id": self.id, "createdAt": self.created, "updatedAt": self.updated,
                "properties": self.properties, "associations": self.associations,
                "archived": self.archived, "emitted_id": self.emitted_id,
                "created_month": month_key(self.created)}


@dataclass
class Batch:
    path: str
    watermark: int
    run_id: str
    rows: int
    bytes: int
    kinds: dict = field(default_factory=dict)


def _props(rng, version):
    # compact JSON with sorted keys, written out by hand: this runs for
    # every landed row and json.dumps dominated the generator's time
    return (f'{{"amount":{rng.randrange(100, 10**6)},"industry":"{rng.choice(INDUSTRIES)}",'
            f'"name":"acct-{rng.randrange(10**6):06d}","stage":"{rng.choice(STAGES)}",'
            f'"version":{version}}}')


def _assocs(rng):
    ids = sorted(rng.randrange(1, 10**6) for _ in range(rng.randint(0, 3)))
    return '{"contacts":[' + ",".join(f'"{i}"' for i in ids) + "]}"


def _landed(o, updated_text, archived_flag):
    q = encode_basestring_ascii
    return (f'{{"id":"{o.id}","createdAt":"{o.created_text}","updatedAt":"{updated_text}",'
            f'"properties":{q(o.properties)},"associations":{q(o.associations)},'
            f'"archived":"{1 if archived_flag else 0}"}}')


def _write_jsonl(path, rows):
    """Rows are dicts or already-encoded JSON object strings."""
    data = "".join((r if isinstance(r, str) else json.dumps(r, separators=(",", ":")))
                   + "\n" for r in rows).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


class SyncModel:
    """Expected snapshot state, advanced by what each batch INTENDS (an
    update lands, a re-send changes nothing, a tombstone archives), not by
    re-implementing the MERGE. Objects are replaced, never mutated, so the
    per-batch deltas SyncExpect keeps stay as each batch left them."""

    def __init__(self):
        self.objs = {}
        self.by_month = {}      # creation month index -> object ids
        self.last_changed = []  # ids the latest batch changed

    def add(self, o, month):
        self.objs[o.id] = o
        self.by_month.setdefault(month, []).append(o.id)


class SyncExpect:
    """Expected snapshot and cursor table after the first n batches."""

    def __init__(self, boot, warmup):
        self.boot = boot       # after the bootstrap and the warm-up cycle
        self.warmup = warmup   # the warm-up cycle's (run_id, watermark)
        self.deltas = []       # per batch: id -> object as it should end up
        self.watermarks = []   # per batch: (run_id, watermark)

    def rows(self, n):
        objs = dict(self.boot)
        for d in self.deltas[:n]:
            objs.update(d)
        return {i: o.row() for i, o in objs.items()}

    def cursors(self, n):
        return [("bootstrap", T0), self.warmup] + self.watermarks[:n]


def generate_sync(seed, out_dir):
    """Write bootstrap.json, warmup.json and batch-NNNN.json under out_dir.
    Returns (the harness's input plan, the SyncExpect of every batch).
    Which batch applied each row is checked through its emitted_id."""
    rng = random.Random(f"sync_deltas:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    model = SyncModel()
    # object creation grows ~3% a month
    months = rng.choices(range(MONTHS), weights=[1.03 ** i for i in range(MONTHS)],
                         k=OBJECTS)
    boot = []
    for n, mi in enumerate(months):
        lo, hi = month_start(mi), min(month_start(mi + 1) - 1, T0 - MS_DAY)
        created, created_text = pick_ts(rng, lo - 1000, hi)
        # most objects were last touched long ago; a few of the newest
        # ones inside the final cycle window, so the first batch has
        # re-send candidates
        recent = mi >= MONTHS - 3 and rng.random() < 0.05
        updated, updated_text = pick_ts(rng, T0 - CYCLE_MS if recent else created, T0)
        o = Obj(id=f"obj-{n:07d}", created=created, updated=updated,
                properties=_props(rng, 0), associations=_assocs(rng),
                archived=False, emitted_id="bootstrap", created_text=created_text)
        model.add(o, mi)
        if recent:
            model.last_changed.append(o.id)
        boot.append(_landed(o, updated_text, False))
    boot_path = os.path.join(out_dir, "bootstrap.json")
    boot_bytes = _write_jsonl(boot_path, boot)

    # the first landed batch is the warm-up cycle: it runs untimed in
    # set-up on the snapshot that the timed cycles then continue
    next_id = [2 * 10**6]
    warm = _sync_batch(rng, model, 1, "warmup", os.path.join(out_dir, "warmup.json"),
                       next_id)
    expect = SyncExpect(dict(model.objs), (warm.run_id, warm.watermark))
    batches = []
    for k in range(1, BATCHES + 1):
        batches.append(_sync_batch(rng, model, k + 1, f"c{k:04d}",
                                   os.path.join(out_dir, f"batch-{k:04d}.json"), next_id))
        expect.deltas.append({i: model.objs[i] for i in model.last_changed})
        expect.watermarks.append((batches[-1].run_id, batches[-1].watermark))
    plan = {
        "object": "crm_objects",
        "lookback_ms": CYCLE_MS,
        "bootstrap": {"path": boot_path, "watermark": T0, "run_id": "bootstrap",
                      "rows": len(boot), "bytes": boot_bytes},
        "warmup": warm.__dict__,
        "batches": [b.__dict__ for b in batches],
    }
    return plan, expect


def _sync_batch(rng, model, k, run_id, path, next_id):
    """One landed batch for cycle k; applies its intent to the model."""
    wm_prev = T0 + (k - 1) * CYCLE_MS
    wm = T0 + k * CYCLE_MS
    want = {kind: int(round(share * BATCH_ROWS)) for kind, share in MIX.items()}
    month_ids = sorted(model.by_month)
    newest = month_ids[-1]
    rows, used, changed, kinds = [], set(), [], {}

    def pick(count, ok):
        """Distinct unused objects passing ok(o): 85% from the newest 3
        creation months, 12% from the last year and 3% from any month.
        The recency skew is an unverified assumption (recent deals and
        contacts are the ones still being worked); it sets how many of
        the 121 partitions a cycle touches (~15)."""
        out, tries = [], 0
        while len(out) < count and tries < count * 50:
            tries += 1
            r = rng.random()
            m = rng.choice(month_ids[-3:] if r < 0.85 else month_ids[-12:] if r < 0.97
                           else month_ids)
            o = model.objs[rng.choice(model.by_month[m])]
            if o.id not in used and ok(o):
                used.add(o.id)
                out.append(o)
        return out

    def put(o):
        model.objs[o.id] = o
        changed.append(o.id)

    # updates, some with a second later version in the same batch
    updated = pick(want["update"], lambda o: not o.archived)
    for o in updated:
        ms, text = pick_ts(rng, wm_prev, wm - 10_000)
        o = replace(o, updated=ms, properties=_props(rng, k), associations=_assocs(rng),
                    emitted_id=run_id)
        rows.append(_landed(o, text, False))
        put(o)
    for oid in rng.sample([o.id for o in updated], min(want["duplicate"], len(updated))):
        o = model.objs[oid]
        ms, text = pick_ts(rng, o.updated + 1000, wm)
        o = replace(o, updated=ms, properties=_props(rng, k * 1000 + 1))
        rows.append(_landed(o, text, False))
        put(o)
    kinds["update"] = len(updated)
    kinds["duplicate"] = len(rows) - len(updated)
    # tombstones: archived "1"; stored with the pipeline's +1 s cursor bump
    tomb = pick(want["tombstone"], lambda o: not o.archived)
    for o in tomb:
        ms, text = pick_ts(rng, wm_prev, wm)
        o = replace(o, properties=_props(rng, k))
        rows.append(_landed(o, text, True))
        put(replace(o, updated=ms + 1000, archived=True, emitted_id=run_id))
    kinds["tombstone"] = len(tomb)
    # unchanged re-sends: objects whose stored version is inside the
    # lookback window, sent again verbatim; the cursor filter keeps them,
    # the MERGE must not apply them
    window = [model.objs[i] for i in dict.fromkeys(model.last_changed)
              if i not in used and wm_prev - CYCLE_MS < model.objs[i].updated <= wm_prev]
    resent = rng.sample(window, min(want["resend"], len(window)))
    for o in resent:
        used.add(o.id)
        landed_ms = o.updated - 1000 if o.archived else o.updated
        rows.append(_landed(o, render_ts(landed_ms, "epoch_millis"), o.archived))
    kinds["resend"] = len(resent)
    # stale versions older than the lookback window with different
    # content; the cursor filter must drop them
    stale = pick(want["stale"], lambda o: not o.archived and
                 o.updated <= wm_prev - CYCLE_MS)
    for o in stale:
        ms = o.updated - rng.randint(1, 30) * MS_DAY
        ms -= ms % 1000
        ghost = replace(o, updated=ms, properties=_props(rng, -1))
        rows.append(_landed(ghost, render_ts(ms, "iso_seconds"), False))
    kinds["stale"] = len(stale)
    # inserts: objects created inside this cycle's window (newest partition)
    for _ in range(want["insert"]):
        oid = f"obj-{next_id[0]:07d}"
        next_id[0] += 1
        created, created_text = pick_ts(rng, wm_prev, wm - 20_000)
        updated, updated_text = pick_ts(rng, max(created, wm_prev), wm)
        o = Obj(oid, created, updated, _props(rng, k), _assocs(rng), False, run_id,
                created_text)
        model.add(o, _month_index(created))
        changed.append(oid)
        rows.append(_landed(o, updated_text, False))
    kinds["insert"] = want["insert"]
    rng.shuffle(rows)
    size = _write_jsonl(path, rows)
    model.last_changed = changed
    return Batch(path=path, watermark=wm, run_id=run_id, rows=len(rows), bytes=size,
                 kinds=kinds)


def _month_index(ms):
    key = month_key(ms)
    return (key // 100 - 2016) * 12 + key % 100 - 1


# ---------------------------------------------------------------- corpus inputs

LANGS = ("en", "fr", "de", "es", "zh")
STOPWORDS = ("the", "a", "of", "and", "to")
CORPUS_DOCS = 10_000
BENCH_DOCS = 300
ROWS_PER_SHARD = 1_000


def _vocab(rng, lang, n=1500):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add(lang + "".join(rng.choice(letters) for _ in range(rng.randint(2, 7))))
    return sorted(words)


def _text(rng, vocab, n_tok):
    toks = []
    for _ in range(n_tok):
        toks.append(rng.choice(STOPWORDS) if rng.random() < 0.15 else rng.choice(vocab))
    return toks


def generate_corpus(seed, out_dir, n_docs=CORPUS_DOCS, tag="docs"):
    """Synthetic multi-source, multi-language corpus with set rates of exact
    and near duplicates, plus a benchmark set some docs are contaminated
    with. Returns (paths, planted contaminated doc ids). The rates (8%
    exact, 8% near duplicates, 2% contamination) are unverified
    assumptions, set so every dedup and decontamination path has work in
    a 10k-doc corpus."""
    rng = random.Random(f"corpus:{seed}:{tag}")
    os.makedirs(out_dir, exist_ok=True)
    vocabs = {lang: _vocab(rng, lang) for lang in LANGS}
    sources = [f"src{i}" for i in range(8)]
    source_w = [2 ** (-i / 2) for i in range(len(sources))]
    bench_rows = []
    bench_toks = []
    for i in range(BENCH_DOCS):
        lang = rng.choice(LANGS)
        toks = _text(rng, vocabs[lang], rng.randint(30, 60))
        bench_toks.append(toks)
        bench_rows.append({"doc_id": 10_000_000 + i, "text": " ".join(toks)})
    docs, planted = [], []
    for i in range(n_docs):
        r = rng.random()
        if docs and r < 0.08:            # exact duplicate
            src = rng.choice(docs)
            text = src["text"]
            lang = src["lang"]
        elif docs and r < 0.16:          # near duplicate: ~5% of tokens changed
            src = rng.choice(docs)
            lang = src["lang"]
            toks = src["text"].split(" ")
            for _ in range(max(1, len(toks) // 20)):
                toks[rng.randrange(len(toks))] = rng.choice(vocabs[lang])
            text = " ".join(toks)
        else:
            lang = rng.choices(LANGS, weights=(4, 2, 2, 2, 1))[0]
            text = " ".join(_text(rng, vocabs[lang], rng.randint(18, 90)))
        if rng.random() < 0.02:          # planted contamination: a 12-token benchmark span
            b = rng.choice(bench_toks)
            s = rng.randrange(len(b) - 12)
            toks = text.split(" ")
            at = rng.randrange(len(toks) + 1)
            text = " ".join(toks[:at] + b[s:s + 12] + toks[at:])
            planted.append(i)
        docs.append({"doc_id": i, "text": text, "lang": lang,
                     "source": rng.choices(sources, weights=source_w)[0],
                     "n_chars": len(text)})
    docs_path = os.path.join(out_dir, f"{tag}.json")
    bench_path = os.path.join(out_dir, f"{tag}-bench.json")
    docs_bytes = _write_jsonl(docs_path, docs)
    _write_jsonl(bench_path, bench_rows)
    return {"docs": docs_path, "bench": bench_path, "docs_rows": n_docs,
            "docs_bytes": docs_bytes}, planted


# ---------------------------------------------------------------- query suite

# A fixed, representative subset of SparkEntry.queries: the whole registry
# takes ~155 s per pass at sf0.001 on a 4-core box, more than one run may
# take, and a seed-chosen random subset moves the median op latency by
# 60-70% between seeds (the per-query costs span 0.1-9 s). Covered: a plain
# Tables.load read, MinHash/LSH with exact-Jaccard verification (q76:
# incremental dedup of a delta against a band index, in queries/Llm.scala),
# BPE training (graft.llm) and a fold chain through graft.streaming (q134:
# three PcaStream.foldBatch calls into StateStore-kept state, then a
# report). The seed permutes the order of every round.
QUERY_SUBSET = (
    "q01_cursor_scan", "q76_incremental_dedup", "q104_bpe_merges",
    "q134_incremental_pca",
)
QUERY_ROUNDS = 32   # upper bound; the timed loop stops on time


def query_rounds(seed):
    rng = random.Random(f"query_suite:{seed}")
    rounds = []
    for _ in range(QUERY_ROUNDS):
        r = list(QUERY_SUBSET)
        rng.shuffle(r)
        rounds.append(r)
    return rounds
