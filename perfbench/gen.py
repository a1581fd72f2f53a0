"""Seeded input generator.

Builds Reddit-shaped records with the corpus schema of the program's
training job (id, author, subreddit, text, timestamp, score, num_replies)
from the read-only test tables: text from `documents`, time, user and
score from `events`. A stated share of texts gets reference-shaped noise
(URLs, markdown, mixed case, emoji and the Unicode lowercase hazards
U+212A KELVIN SIGN and U+0130 LATIN CAPITAL I WITH DOT ABOVE), because the
`documents` text is plain lowercase words and would never stress the
cleaning chain otherwise.

The training corpus is fixed (its own seed) and uses the first documents
and events; streamed records are drawn with the run's seed from the
remaining rows, and their ids carry a different prefix, so training and
streamed ids (and texts) are disjoint.
"""
import json
import os
import random
import re

import duckdb

TRAIN_SEED = 42
TRAIN_RECORDS = 1135          # the reference corpus size
NOISE_SHARE = 0.3             # share of texts given reference-shaped noise
SUBREDDITS = ["Bitcoin", "CryptoCurrency", "ethereum", "CryptoMarkets", "solana",
              "dogecoin", "btc", "altcoin", "defi", "CryptoTechnology"]
EMOJI = ["\U0001F680", "\U0001F4C9", "\U0001F4B8", "\U0001F48E\U0001F64C", "\U0001F525"]
HAZARDS = ["Kelvin", "İstanbul", "K", "DİGITAL", "KRYPTO"]


def testdata_root(root="."):
    """Where the test tables live: `PERFBENCH_TESTDATA` if set, else the
    directory TESTDATA.md documents for them."""
    if os.environ.get("PERFBENCH_TESTDATA"):
        return os.environ["PERFBENCH_TESTDATA"]
    try:
        with open(os.path.join(root, "TESTDATA.md")) as fh:
            m = re.search(r"`([^`]+)/sf0\.1/?`", fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: TESTDATA.md names no sf0.1 directory; set PERFBENCH_TESTDATA")
    return m.group(1)


def connect():
    return duckdb.connect(config={"autoinstall_known_extensions": False})


class Source:
    """The rows records are drawn from (sf dir of the test tables)."""

    def __init__(self, sf_dir):
        con = connect()
        self.docs = con.execute(
            f"SELECT text, source FROM '{sf_dir}/documents.parquet' ORDER BY doc_id").fetchall()
        self.events = con.execute(
            f"SELECT epoch_us(ts) / 1e6, user_id, value, props FROM '{sf_dir}/events.parquet' "
            "ORDER BY event_id").fetchall()
        con.close()
        if len(self.docs) <= TRAIN_RECORDS or len(self.events) <= TRAIN_RECORDS:
            raise SystemExit(f"perfbench: {sf_dir} is too small for a {TRAIN_RECORDS}-record corpus")


def noisy(text, rng, rid):
    words = text.split(" ")
    ops = rng.sample(["url", "markdown", "case", "emoji", "hazard"], rng.randint(1, 3))
    if "case" in ops:
        words = [w.upper() if rng.random() < 0.2 else (w.capitalize() if rng.random() < 0.3 else w)
                 for w in words]
    if "hazard" in ops:
        words.insert(rng.randrange(len(words) + 1), rng.choice(HAZARDS))
    if "emoji" in ops:
        words.insert(rng.randrange(len(words) + 1), rng.choice(EMOJI))
    out = " ".join(words)
    if "markdown" in ops:
        out = rng.choice([f"**{out}**", f"> {out}", f"# {out}",
                          f"{out}\n\n[source](https://example.com/{rid})", f"_{out}_ ~~old~~"])
    if "url" in ops:
        out = f"{out} https://www.reddit.com/r/{rng.choice(SUBREDDITS)}/comments/{rid}/"
    return out


def record(src, rng, rid, doc_i, ev_i):
    text, source = src.docs[doc_i]
    ts, user, value, props = src.events[ev_i]
    if rng.random() < NOISE_SHARE:
        text = noisy(text, rng, rid)
    try:
        k = int(json.loads(props).get("k", 0))
    except (ValueError, TypeError, AttributeError):
        k = 0
    return {"id": rid, "author": f"user_{user}",
            "subreddit": SUBREDDITS[int(source[3:]) % len(SUBREDDITS)] if source.startswith("src") else source,
            "text": text, "timestamp": float(ts), "score": int(value) % 109 - 13,
            "num_replies": k % 40}


def train_corpus(src):
    rng = random.Random(TRAIN_SEED)
    return [record(src, rng, f"t{i:05d}", i, i) for i in range(TRAIN_RECORDS)]


def stream_records(src, seed, n):
    """n streamed records for this seed, ids `s<seed>_<i>`."""
    rng = random.Random(seed)
    docs = range(TRAIN_RECORDS, len(src.docs))
    events = range(TRAIN_RECORDS, len(src.events))
    return [record(src, rng, f"s{seed}_{i:06d}", rng.choice(docs), rng.choice(events))
            for i in range(n)]


def write_json_array(path, recs):
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(recs, fh, ensure_ascii=False)


def write_lines(path, recs):
    with open(path, "w", encoding="utf-8") as fh:
        for r in recs:
            fh.write(json.dumps(r, ensure_ascii=False) + "\n")


def stage_backlog(dir_, recs, per_file):
    os.makedirs(dir_, exist_ok=True)
    for f, i in enumerate(range(0, len(recs), per_file)):
        write_lines(os.path.join(dir_, f"part-{f:06d}.json"), recs[i:i + per_file])
