"""Seeded input generators for the lane workloads.

Every generator is a pure function of (workload, seed, size): it draws
from one `random.Random` seeded with that key and writes its files in a
fixed order, so two checkouts produce byte-identical inputs. Outputs are
cached under a directory keyed by the same triple; `ensure` regenerates
only when the directory lacks its completion marker.

Layouts (all relative to the dataset directory):

  batch_reference: fixtures/{pin,geo,user}_raw.parquet/part-NNNNN.parquet
                   and fixtures/_DONE -- the layout the program's fixture
                   resolver reads under its scratch root. The pins' title
                   and description carry planted duplicate families.
  stream_ingest:   {warm,live,backlog}/{pin,geo,user}/*.json envelope
                   files, one JSON object {"data": "<record json>"} a line,
                   live_all/{pin,geo,user}/all.json (the live records in
                   one file) and live_schedule.tsv (stream, file, due
                   offset in ms).

Each dataset also holds truth.json: expected clean row counts, planted
pair lists with their true Jaccard, and per-file due times.
"""
import datetime as dt
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

PLACEHOLDERS = ["", "NA", "N/A", "None", "null", None]
CATEGORIES = ["art", "beauty", "christmas", "diy-and-crafts", "education",
              "event-planning", "finance", "home-decor", "mens-fashion",
              "quotes", "tattoos", "travel", "vehicles", "womens-fashion",
              "food", "fitness", "gardening", "pets", "photography", "music"]
COUNTRIES = ["Afghanistan", "Albania", "Algeria", "Angola", "Argentina",
             "Armenia", "Australia", "Austria", "Bahamas", "Bangladesh",
             "Belgium", "Bolivia", "Brazil", "Bulgaria", "Cambodia",
             "Canada", "Chile", "China", "Colombia", "Croatia", "Cuba",
             "Denmark", "Ecuador", "Egypt", "Estonia", "Ethiopia", "Fiji",
             "Finland", "France", "Germany", "Ghana", "Greece", "Haiti",
             "Hungary", "Iceland", "India", "Indonesia", "Ireland", "Italy",
             "Jamaica", "Japan", "Kenya", "Latvia", "Malta", "Mexico",
             "Morocco", "Nepal", "Norway", "Peru", "Poland", "Portugal",
             "Romania", "Senegal", "Spain", "Sweden", "Togo", "Uganda",
             "Uruguay", "Vietnam", "Zambia"]
FIRST = ["Alex", "Ana", "Ben", "Chloe", "Dan", "Eva", "Finn", "Gia", "Hugo",
         "Ivy", "Jon", "Kai", "Lea", "Max", "Nia", "Oli", "Pia", "Raj",
         "Sam", "Tia", "Uma", "Vic", "Wes", "Yan", "Zoe"]
LAST = ["Smith", "Jones", "Brown", "Lee", "Garcia", "Khan", "Silva", "Kim",
        "Novak", "Rossi", "Muller", "Dubois", "Tanaka", "Okafor", "Larsen",
        "Costa", "Ivanov", "Nguyen", "Haddad", "Moreau"]
TAGS = ["tag%03d" % i for i in range(240)]
# a vocabulary wide enough that unrelated texts rarely share a 3-shingle
WORDS = ["w%04d" % i for i in range(6000)]

EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def zipf_weights(n, s=1.1):
    return [1.0 / (i + 1) ** s for i in range(n)]


def shingles(text, n=3):
    """Distinct word n-grams of a single-space tokenization (empty tokens
    kept), the shingle definition the dedup kernels use."""
    toks = text.split(" ")
    if len(toks) < n:
        return set()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    if not sa or not sb:
        return 0.0
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def _rand_words(rng, k):
    return " ".join(rng.choice(WORDS) for _ in range(k))


def _maybe_placeholder(rng, value, rate=0.03):
    return rng.choice(PLACEHOLDERS) if rng.random() < rate else value


def _follower_count(rng):
    r = rng.random()
    if r < 0.45:
        return str(rng.randint(0, 99999))
    if r < 0.75:
        return "%dk" % rng.randint(1, 999)
    if r < 0.85:
        return "%d.5k" % rng.randint(1, 99)
    if r < 0.93:
        return "%dM" % rng.randint(1, 9)
    return rng.choice(PLACEHOLDERS)


def _pin_record(rng, index, cat_w, posters):
    category = rng.choices(CATEGORIES, weights=cat_w)[0]
    r = rng.random()
    kind = ("image" if r < 0.7 else "video" if r < 0.9 else
            "multi-video(story page format)" if r < 0.95 else
            rng.choice(PLACEHOLDERS))
    ntags = rng.randint(1, 6)
    return {
        "index": index,
        "unique_id": "%032x" % rng.getrandbits(128),
        "title": _maybe_placeholder(rng, _rand_words(rng, rng.randint(4, 9))),
        "description": _maybe_placeholder(
            rng, _rand_words(rng, rng.randint(10, 24))),
        "poster_name": _maybe_placeholder(rng, rng.choice(posters)),
        "follower_count": _follower_count(rng),
        "tag_list": _maybe_placeholder(
            rng, ",".join(rng.sample(TAGS, ntags))),
        "is_image_or_video": kind,
        "image_src": _maybe_placeholder(
            rng, "https://i.pinimg.com/originals/%016x.jpg" % rng.getrandbits(64)),
        "downloaded": rng.randint(0, 1),
        "save_location": _maybe_placeholder(
            rng, "Local save in /data/%s" % category),
        "category": _maybe_placeholder(rng, category),
    }


def _ts(rng, start_year, end_year):
    lo = int(dt.datetime(start_year, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    hi = int(dt.datetime(end_year, 12, 31, tzinfo=dt.timezone.utc).timestamp())
    return EPOCH + dt.timedelta(seconds=rng.randint(lo, hi))


def _geo_record(rng, ind, when, country_w):
    return {
        "ind": ind,
        "timestamp": when,
        "latitude": round(rng.uniform(-89.0, 89.0), 4),
        "longitude": round(rng.uniform(-179.0, 179.0), 4),
        "country": rng.choices(COUNTRIES, weights=country_w)[0],
    }


def _user_record(rng, ind, when):
    r = rng.random()
    age = (str(rng.randint(16, 80)) if r < 0.96 else
           rng.choice(["abc", "", "unknown"]))
    return {"ind": ind, "first_name": rng.choice(FIRST),
            "last_name": rng.choice(LAST), "age": age, "date_joined": when}


def _with_dups(rng, rows, rate):
    """Insert exact copies of `rate` x len(rows) random earlier rows at
    random later positions; returns (rows, number of copies)."""
    out = list(rows)
    n_dup = int(len(rows) * rate)
    for _ in range(n_dup):
        src = rng.randrange(len(out))
        out.insert(rng.randint(src + 1, len(out)), dict(out[src]))
    return out, n_dup


PIN_SCHEMA = pa.schema([
    ("index", pa.int32()), ("unique_id", pa.string()), ("title", pa.string()),
    ("description", pa.string()), ("poster_name", pa.string()),
    ("follower_count", pa.string()), ("tag_list", pa.string()),
    ("is_image_or_video", pa.string()), ("image_src", pa.string()),
    ("downloaded", pa.int32()), ("save_location", pa.string()),
    ("category", pa.string())])
GEO_SCHEMA = pa.schema([
    ("ind", pa.int32()), ("timestamp", pa.timestamp("us", tz="UTC")),
    ("latitude", pa.float32()), ("longitude", pa.float32()),
    ("country", pa.string())])
USER_SCHEMA = pa.schema([
    ("ind", pa.int32()), ("first_name", pa.string()),
    ("last_name", pa.string()), ("age", pa.string()),
    ("date_joined", pa.timestamp("us", tz="UTC"))])


def _write_parquet(rows, schema, out_dir, n_files):
    os.makedirs(out_dir)
    per = (len(rows) + n_files - 1) // n_files
    for k in range(n_files):
        chunk = rows[k * per:(k + 1) * per]
        table = pa.Table.from_pylist(chunk, schema=schema)
        pq.write_table(table, os.path.join(out_dir, "part-%05d.parquet" % k),
                       compression="snappy")


def _plant_dedup(rng, pins, cat_w, posters, exact_families, near_pairs):
    """Give random pins fresh long texts and add pins that copy them:
    exact-copy families (2-4 members) and near duplicates at 1-4 word
    edits of the description. Returns the planted pairs as
    [a, b, true Jaccard over word 3-shingles of title + description]."""
    sources = rng.sample(range(len(pins)), exact_families + near_pairs)
    for i in sources:
        pins[i]["title"] = _rand_words(rng, 6)
        pins[i]["description"] = _rand_words(rng, rng.randint(24, 40))

    def add(title, desc):
        rec = _pin_record(rng, len(pins), cat_w, posters)
        rec["title"], rec["description"] = title, desc
        pins.append(rec)
        return rec["index"]

    pairs = []
    for src in sources[:exact_families]:
        members = [src] + [add(pins[src]["title"], pins[src]["description"])
                           for _ in range(rng.randint(1, 3))]
        pairs += [[min(a, b), max(a, b), 1.0]
                  for i, a in enumerate(members) for b in members[i + 1:]]
    for k, src in enumerate(sources[exact_families:]):
        title, desc = pins[src]["title"], pins[src]["description"]
        edited = " ".join(_edit(rng, desc.split(" "), 1 + k % 4))
        pairs.append([src, add(title, edited),
                      jaccard(title + " " + desc, title + " " + edited)])
    return pairs


def gen_batch(rng, out, size, threshold):
    """Raw pin/geo/user tables: n pins plus planted dedup families, one
    geo and one user row per pin, ~5% exact duplicate rows in each
    table, placeholders, human-count strings and skewed category and
    country values."""
    n = size["n"]
    cat_w, country_w = zipf_weights(len(CATEGORIES)), zipf_weights(len(COUNTRIES))
    posters = ["poster_%05d" % i for i in range(max(50, n // 20))]
    pins = [_pin_record(rng, i, cat_w, posters) for i in range(n)]
    pairs = _plant_dedup(rng, pins, cat_w, posters, size["exact_families"],
                         size["near_pairs"])
    geos, users = [], []
    null_geo = null_user = 0
    for i in range(len(pins)):
        gi = None if rng.random() < 0.005 else i
        null_geo += gi is None
        geos.append(_geo_record(rng, gi, _ts(rng, 2015, 2023), country_w))
        ui = None if rng.random() < 0.005 else i
        null_user += ui is None
        users.append(_user_record(rng, ui, _ts(rng, 2014, 2021)))
    n_pins = len(pins)
    pins, cp_pin = _with_dups(rng, pins, 0.05)
    geos, cp_geo = _with_dups(rng, geos, 0.05)
    users, cp_user = _with_dups(rng, users, 0.05)
    fx = os.path.join(out, "fixtures")
    _write_parquet(pins, PIN_SCHEMA, os.path.join(fx, "pin_raw.parquet"), 8)
    _write_parquet(geos, GEO_SCHEMA, os.path.join(fx, "geo_raw.parquet"), 8)
    _write_parquet(users, USER_SCHEMA, os.path.join(fx, "user_raw.parquet"), 8)
    open(os.path.join(fx, "_DONE"), "w").close()
    return {"records_in": len(pins) + len(geos) + len(users),
            "rows_in": {"pin": len(pins), "geo": len(geos), "user": len(users)},
            "clean_rows": {"pin": n_pins, "geo": n_pins - null_geo,
                           "user": n_pins - null_user},
            "planted_copies": {"pin": cp_pin, "geo": cp_geo, "user": cp_user},
            "threshold": threshold, "planted_pairs": pairs,
            "planted_at_threshold": sum(1 for p in pairs if p[2] >= threshold)}


def _iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + "%03dZ" % (t.microsecond // 1000)


def _stream_records(rng, kind, ind0, count, t0, cat_w, country_w, posters):
    """`count` distinct records of one entity with strictly increasing
    event times from t0 (so the pipelines' watermarks drop nothing)."""
    rows = []
    for k in range(count):
        ind = ind0 + k
        when = t0 + dt.timedelta(milliseconds=10 * k)
        if kind == "pin":
            rows.append(_pin_record(rng, ind, cat_w, posters))
        elif kind == "geo":
            gi = None if rng.random() < 0.005 else ind
            rows.append(_geo_record(rng, gi, _iso(when), country_w))
        else:
            ui = None if rng.random() < 0.005 else ind
            rows.append(_user_record(rng, ui, _iso(when)))
    return rows


def _write_envelopes(rows, path):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps({"data": json.dumps(r, separators=(",", ":"))},
                               separators=(",", ":")))
            f.write("\n")


def _clean_count(kind, rows):
    """Rows cleaning keeps: geo and user rows need their join key."""
    if kind == "pin":
        return len(rows)
    return sum(1 for r in rows if r["ind"] is not None)


def gen_stream(rng, out, size):
    """Envelope files for the three streams in three sets: a small
    warm-up set, the live set (dropped one file at a time on a fixed
    schedule) and the catch-up backlog. ~5% of records in each stream
    are exact copies placed in the same or a later file."""
    cat_w, country_w = zipf_weights(len(CATEGORIES)), zipf_weights(len(COUNTRIES))
    posters = ["poster_%04d" % i for i in range(500)]
    truth = {"streams": ["pin", "geo", "user"], "sets": {}}
    ind = 0
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for name, n_files, per_file in (("warm", size["warm_files"], size["warm_per_file"]),
                                    ("live", size["live_files"], size["live_per_file"]),
                                    ("backlog", size["backlog_files"], size["backlog_per_file"])):
        info = {"files": n_files, "records": {}, "clean_rows": {},
                "planted_copies": {}}
        for kind in ("pin", "geo", "user"):
            d = os.path.join(out, name, kind)
            os.makedirs(d)
            distinct = _stream_records(rng, kind, ind, n_files * per_file, t0,
                                       cat_w, country_w, posters)
            rows, copies = _with_dups(rng, distinct, 0.05)
            ind += n_files * per_file
            per = (len(rows) + n_files - 1) // n_files
            for k in range(n_files):
                _write_envelopes(rows[k * per:(k + 1) * per],
                                 os.path.join(d, "f-%05d.json" % k))
            if name == "live":
                # the same records in one file, for the batch reference
                os.makedirs(os.path.join(out, "live_all", kind))
                _write_envelopes(rows, os.path.join(out, "live_all", kind, "all.json"))
            info["records"][kind] = len(rows)
            info["clean_rows"][kind] = _clean_count(kind, distinct)
            info["planted_copies"][kind] = copies
        truth["sets"][name] = info
    # live schedule: files of the three streams interleaved, one drop
    # every `live_spacing_ms`
    with open(os.path.join(out, "live_schedule.tsv"), "w") as f:
        for k in range(size["live_files"]):
            for j, kind in enumerate(("pin", "geo", "user")):
                f.write("%s\tf-%05d.json\t%d\n" % (kind, k, (3 * k + j) * size["live_spacing_ms"]))
    truth["records_in"] = sum(truth["sets"]["backlog"]["records"].values())
    return truth


def _edit(rng, toks, n_edits):
    out = list(toks)
    for _ in range(n_edits):
        out[rng.randrange(len(out))] = rng.choice(WORDS)
    return out


def ensure(root, workload, seed, size, threshold=None):
    """Return (dataset dir, truth) for the key, generating it if absent."""
    key = "%s-s%d-%s" % (workload, seed,
                         "-".join("%s%s" % (k[:2], v) for k, v in sorted(size.items())))
    out = os.path.join(root, key)
    marker = os.path.join(out, "_COMPLETE")
    if not os.path.exists(marker):
        if os.path.exists(out):
            shutil.rmtree(out)
        os.makedirs(out)
        rng = random.Random("%s:%d" % (workload, seed))
        if workload == "batch_reference":
            truth = gen_batch(rng, out, size, threshold)
        else:
            truth = gen_stream(rng, out, size)
        with open(os.path.join(out, "truth.json"), "w") as f:
            json.dump(truth, f)
        open(marker, "w").close()
    with open(os.path.join(out, "truth.json")) as f:
        return out, json.load(f)
