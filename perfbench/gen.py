"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and a size and writes files the program reads
through its public loaders: parquet tables for `Tables.*`, a JSON array and
two CSVs for `IO.*`. The same seed gives byte-identical inputs. Ground truth
for `movies_etl` is planted here and written next to the inputs.

movies_etl follows the reference dataset's recorded shape (REF below, with
the notebook cells BASELINE.md and SURVEY.md cite), scaled down by one
factor. Rates the reference does not record are marked "assumed".
llm_prep is a salted replica of the repository's documents and embeddings
fixture (fixtures/, copied from the sf0.01 test tables), built the way
tools/gen_stress.py --salted builds its scan-scaling control.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# movies_etl: `scale` is the share of the reference dataset generated.
# llm_prep: `replicas` salted copies of the 500-document, 500-vector
# fixture; its `scale` sizes the small movies input that the traced run's
# pipeline probe reads.
SIZES = {
    "movies_etl": {"scale": 1 / 80},
    "llm_prep": {"replicas": 2, "scale": 1 / 400},
}
SMOKE = {"replicas": 1, "scale": 1 / 1000}

# The reference dataset (BASELINE.md, SURVEY.md §6).
REF = {
    "wiki": 7311,            # records extracted (exploratory_data_analysis.ipynb:79)
    "wiki_movies": 7076,     # after the movie filter (:2093)
    "wiki_unique": 7033,     # after imdb_id dedup (:2940-2941)
    "wiki_keys": 193,        # distinct keys (:1851-2043)
    "merged": 6052,          # inner join; 6,051 survive the one-row purge (:6215)
    "kaggle": 45466,         # metadata rows (:3909-3915)
    "kaggle_adult": 9,       # adult == True
    "kaggle_corrupt": 3,     # prose in `adult`
    "ratings": 26024289,     # (:4191)
    "runtime_present": 6859,  # running-time entries (:3727,3736)
    "runtime_minutes": 6528,  # of them in the "N minutes" form
    "box_million": 3896,     # box office "$x million/billion" (:3265)
    "box_sep": 1544,         # box office "$x,xxx,xxx" (:3286)
}                            # ratings: mean 3.528, std 1.065 (:4257-4264)


# ---------------------------------------------------------------- llm_prep

def gen_corpus(rng, seed, out, replicas):
    """The fixture's documents and embeddings, `replicas` times. Replica 0
    is the fixture as is; in replica i > 0 every token gets a seeded
    per-replica suffix, so replicas share no shingles and the duplicate
    structure is `replicas` times the fixture's, and every vector a small
    seeded perturbation, so ANN sees distinct points. Keys shift by
    replica; rows come in a seeded order. Also writes JSON-array and CSV
    exports of the documents for the IO probe."""
    docs = pq.read_table(f"{HERE}/fixtures/documents.parquet").to_pydict()
    emb = pq.read_table(f"{HERE}/fixtures/embeddings.parquet").to_pydict()
    nd, nv = len(docs["doc_id"]), len(emb["vec_id"])
    base_vec = np.array(emb["embedding"], dtype=np.float32)
    d = {k: [] for k in docs}
    e = {k: [] for k in emb}
    for i in range(replicas):
        salt = f"_{seed % 997}x{i}"
        d["doc_id"] += [x + i * 100000000 for x in docs["doc_id"]]
        texts = docs["text"] if i == 0 else [
            " ".join(w + salt for w in t.split(" ")) for t in docs["text"]]
        d["text"] += texts
        d["n_chars"] += [len(t) for t in texts]
        for k in ("lang", "source"):
            d[k] += docs[k]
        e["vec_id"] += [x + i * 10000000 for x in emb["vec_id"]]
        vec = base_vec if i == 0 else base_vec + rng.uniform(
            -1e-3, 1e-3, base_vec.shape).astype(np.float32)
        e["embedding"] += list(vec)
        e["label"] += emb["label"]
    order_d = rng.permutation(nd * replicas)
    order_e = rng.permutation(nv * replicas)
    documents = pa.table({k: [v[j] for j in order_d] for k, v in d.items()},
                         schema=pq.read_schema(f"{HERE}/fixtures/documents.parquet"))
    pq.write_table(documents, f"{out}/documents.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array([e["vec_id"][j] for j in order_e], pa.int64()),
        "embedding": pa.array([e["embedding"][j] for j in order_e], pa.list_(pa.float32())),
        "label": pa.array([e["label"][j] for j in order_e], pa.int32())}),
        f"{out}/embeddings.parquet")
    export(documents, out, "probe")
    return (nd + nv) * replicas


def export(table, out, name):
    rows = table.to_pylist()
    with open(f"{out}/{name}.json", "w") as f:
        json.dump(rows, f)
    pacsv.write_csv(table, f"{out}/{name}.csv")


# ---------------------------------------------------------------- movies

MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
KAGGLE_COLS = ["adult", "belongs_to_collection", "budget", "genres",
               "homepage", "id", "imdb_id", "original_language",
               "original_title", "overview", "popularity", "poster_path",
               "production_companies", "production_countries",
               "release_date", "revenue", "runtime", "spoken_languages",
               "status", "tagline", "title", "video", "vote_average",
               "vote_count"]
# Keys present in most records (assumed rates), kept by the <90%-null rule;
# the reference keeps about 21 of its 193 (BASELINE.md).
COMMON_KEYS = {"Starring": 0.95, "Country": 0.9, "Language": 0.88,
               "Distributed by": 0.85, "Produced by": 0.85,
               "Written by": 0.8, "Music by": 0.8, "Cinematography": 0.75,
               "Edited by": 0.75, "Production company": 0.6,
               "Based on": 0.3}
# Alt-title keys the pipeline folds into one map, then filler keys up to
# the reference's 193 distinct keys; each in a few records (assumed).
RARE_KEYS = ["Also known as", "Arabic", "Cantonese", "Chinese", "French",
             "Hangul", "Hebrew", "Hepburn", "Japanese", "Literally",
             "Mandarin", "McCune-Reischauer", "Original title", "Polish",
             "Revised Romanization", "Romanized", "Russian", "Simplified",
             "Traditional", "Yiddish", "Narrated by", "Animation by",
             "Color process", "Recorded", "Genre", "Label", "Venue"]
FIXED_KEYS = ["url", "year", "title", "imdb_link", "Director", "Directed by",
              "Box office", "Budget", "Release date", "Running time",
              "Length", "No. of episodes"]
RARE_KEYS += [f"Infobox field {i}" for i in
              range(REF["wiki_keys"] - len(FIXED_KEYS) - len(COMMON_KEYS) - len(RARE_KEYS))]
RARE_PER_RECORD = 3   # assumed

# Money cell forms and their shares. Of the cells the reference's two
# regexes match, 3,896 are "$x million/billion" and 1,544 "$x,xxx,xxx"
# (BASELINE.md); the split inside each and the residue forms are assumed.
_form_one = REF["box_million"] / (REF["box_million"] + REF["box_sep"])
MONEY_FORMS = {
    "million": _form_one * 0.94, "citation": _form_one * 0.03,
    "billion": _form_one * 0.02, "millon": _form_one * 0.01,
    "comma": (1 - _form_one) * 0.95, "period": (1 - _form_one) * 0.05,
}
MONEY_RESIDUE = {"range": 0.01, "list": 0.01, "prose": 0.01}   # assumed


def _pick(rng, shares):
    """A key of `shares` drawn by its share (shares need not sum to 1)."""
    keys = list(shares)
    p = np.array([shares[k] for k in keys])
    return keys[int(rng.choice(len(keys), p=p / p.sum()))]


def _money(rng, usd):
    """A wiki money cell for `usd` and the value parse_dollars must give."""
    f = _pick(rng, {**MONEY_FORMS, **MONEY_RESIDUE})
    m = round(usd / 1e6, 1)
    whole = int(usd) // 1000 * 1000 + 1000
    if f == "million":
        return f"${m} million", m * 1e6
    if f == "millon":
        return f"${m} millon", m * 1e6
    if f == "citation":
        return f"${m} million[{rng.integers(1, 9)}]", m * 1e6
    if f == "billion":
        b = round(usd / 1e9, 2) or 0.01
        return f"${b} billion", b * 1e9
    if f == "comma":
        return f"${whole:,}", float(whole)
    if f == "period":
        return f"${whole:,}".replace(",", "."), float(whole)
    if f == "range":
        lo = max(0.1, round(m / 2, 1))
        return f"${lo}–${m} million", m * 1e6
    if f == "list":
        return [f"${m} million", "(estimated)"], m * 1e6
    return "unknown", None


def _date(rng, day):
    """A wiki release-date cell for `day` and the date it parses to; the
    four forms' shares are assumed."""
    f = _pick(rng, {"long": 0.7, "iso": 0.1, "month": 0.1, "year": 0.1})
    if f == "long":
        return f"{MONTHS[day.month - 1]} {day.day}, {day.year}", day
    if f == "iso":
        return day.isoformat(), day
    if f == "month":
        return (f"{MONTHS[day.month - 1]} {day.year}",
                dt.date(day.year, day.month, 1))
    return f"{day.year} (United States)", dt.date(day.year, 1, 1)


def _runtime(rng, mins):
    """6,528 of the reference's 6,859 running times read "N minutes"; the
    other two forms split the rest (assumed)."""
    r = rng.random() * REF["runtime_present"]
    if r < REF["runtime_minutes"]:
        return f"{mins} minutes"
    if r < (REF["runtime_minutes"] + REF["runtime_present"]) / 2:
        return f"{mins // 60} hours {mins % 60} minutes"
    return f"{mins // 60} h {mins % 60} m"


def _rand_day(rng, y0, y1):
    return dt.date(int(rng.integers(y0, y1 + 1)), int(rng.integers(1, 13)),
                   int(rng.integers(1, 29)))


def _rating_levels(rng, n):
    """Rating levels 0.5..5.0 with the reference's mean and standard
    deviation: a normal curve N(3.965, 1.415) over the ten levels has mean
    3.527 and deviation 1.065. The shape is assumed."""
    levels = np.arange(1, 11) / 2.0
    p = np.exp(-0.5 * ((levels - 3.965) / 1.415) ** 2)
    return levels[rng.choice(10, n, p=p / p.sum())]


def gen_movies(rng, out, scale):
    """Ragged wiki JSON array, kaggle CSV and Zipf-skewed ratings CSV at
    `scale` of the reference's row counts, plus the planted expectation of
    `MoviesEtl.run` over them (truth.json). Every edge case the pipeline
    handles appears at least once: TV rows, records without imdb link or
    director, duplicated imdb ids, adult and corrupt kaggle rows, a
    wiki/kaggle mis-merge to purge."""
    n = lambda k: max(1, round(REF[k] * scale))
    n_unique = n("wiki_unique")
    n_dups = max(1, round((REF["wiki_movies"] - REF["wiki_unique"]) * scale))
    n_rejects = max(3, round((REF["wiki"] - REF["wiki_movies"]) * scale))
    n_merged = max(2, round(n_unique * REF["merged"] / REF["wiki_unique"]))
    n_kaggle = max(n_merged + 3, n("kaggle"))
    n_ratings = n("ratings")

    # wiki films 0..n_unique-1; the first n_merged have a kaggle row, film 0
    # is the mis-merge the pipeline purges
    films = rng.permutation(n_unique)
    matched = set(films[:n_merged].tolist())
    purge = int(films[0])
    wiki, truth = [], {}
    kaggle_rows = {}
    for i in range(n_unique):
        imdb = f"tt{1000000 + i:07d}"
        rec = {"url": f"https://en.wikipedia.org/wiki/Film_{i:06d}",
               "year": int(rng.integers(1950, 2020)), "title": f"Film {i}",
               "imdb_link": f"https://www.imdb.com/title/{imdb}/",
               ("Director" if rng.random() < 0.5 else "Directed by"):
                   f"Director {int(rng.integers(0, 500))}"}
        box = budget = wday = None
        rt = 0.0   # a missing running time parses to 0 minutes
        if rng.random() < 0.8:   # assumed: 5,440 documented matches + residue
            rec["Box office"], box = _money(rng, rng.uniform(2e5, 2.5e9))
        if rng.random() < 0.7:   # assumed
            rec["Budget"], budget = _money(rng, rng.uniform(1e5, 3e8))
        if i == purge or rng.random() < 0.98:   # assumed
            day = _rand_day(rng, 1997, 2019) if i == purge else _rand_day(rng, 1950, 2019)
            rec["Release date"], wday = _date(rng, day)
        if rng.random() < REF["runtime_present"] / REF["wiki_unique"]:
            mins = int(rng.integers(60, 200))
            rec["Running time" if rng.random() < 0.95 else "Length"] = _runtime(rng, mins)
            rt = float(mins)
        for k, share in COMMON_KEYS.items():
            if rng.random() < share:
                rec[k] = ([f"Actor {int(a)}" for a in rng.integers(0, 900, 3)]
                          if k == "Starring" else f"{k} {int(rng.integers(0, 50))}")
        wiki.append(rec)
        if i not in matched:
            continue
        kid = 100000 + i
        kday = _rand_day(rng, 1950, 1964) if i == purge else _rand_day(rng, 1965, 2019)
        kaggle_rows[kid] = _kaggle_row(rng, kid, imdb, i, kday)
        k_budget = float(kaggle_rows[kid]["budget"])
        k_rev, k_rt = float(kaggle_rows[kid]["revenue"]), float(kaggle_rows[kid]["runtime"])
        if i != purge:
            fill = lambda k, w: w if k == 0 else k
            truth[imdb] = {
                "kaggle_id": kid, "budget": fill(k_budget, budget),
                "revenue": fill(k_rev, box), "runtime": fill(k_rt, rt),
                "release_date": kday.isoformat()}
    # duplicates of kept films: a later url, so keep-first drops them
    for i in rng.choice(n_unique, n_dups, replace=False).tolist():
        wiki.append(dict(wiki[i], url=wiki[i]["url"] + "_(remake)",
                         title=f"Remake {i}", Budget="$1 million"))
    # records the movie filter drops: TV shows, no imdb link, no director
    for j in range(n_rejects):
        rec = {"url": f"https://en.wikipedia.org/wiki/Other_{j:06d}",
               "year": 2000, "title": f"Other {j}",
               "imdb_link": f"https://www.imdb.com/title/tt{2000000 + j:07d}/",
               "Directed by": "Someone", "Running time": "30 minutes"}
        kind = j % 3
        if kind == 0:
            rec["No. of episodes"] = int(rng.integers(6, 60))
        elif kind == 1:
            del rec["imdb_link"]
        else:
            del rec["Directed by"]
        wiki.append(rec)
    # every rare key at least once, each record a few
    rare = [RARE_KEYS[j % len(RARE_KEYS)] for j in range(max(len(RARE_KEYS), len(wiki)))]
    for j, k in enumerate(rare):
        wiki[j % len(wiki)][k] = "x"
    for rec in wiki:
        for k in rng.choice(len(RARE_KEYS), RARE_PER_RECORD - 1, replace=False):
            rec[RARE_KEYS[int(k)]] = "x"
    wiki = [wiki[j] for j in rng.permutation(len(wiki))]

    # kaggle films without a wiki match; adult and corrupt rows drop theirs
    for j in range(n_kaggle - n_merged):
        kid = 500000 + j
        kaggle_rows[kid] = _kaggle_row(rng, kid, f"tt{3000000 + j:07d}", j,
                                       _rand_day(rng, 1965, 2019))
    kids = list(kaggle_rows)
    bad = rng.choice(len(kids), n("kaggle_adult") + n("kaggle_corrupt"), replace=False)
    for j, b in enumerate(bad.tolist()):
        kaggle_rows[kids[b]]["adult"] = ("True" if j < n("kaggle_adult")
                                         else " - Written by a film critic, 1995.")
        truth.pop(kaggle_rows[kids[b]]["imdb_id"], None)
    kaggle = [kaggle_rows[kids[j]] for j in rng.permutation(len(kids))]

    # ratings: movieId over every kaggle id, Zipf-ranked (exponent 1,
    # assumed); users rate about 96 movies each (assumed)
    ranks = np.arange(1, len(kids) + 1, dtype=np.float64)
    p = 1 / ranks
    movie = np.array(kids)[rng.permutation(len(kids))][rng.choice(len(kids), n_ratings, p=p / p.sum())]
    rating = _rating_levels(rng, n_ratings)
    n_users = max(1, n_ratings // 96)
    user = rng.integers(1, n_users + 1, n_ratings)
    ts = rng.integers(789652004, 1500000000, n_ratings)
    counts = {}
    for kid, lv in ((k, l) for k, l in zip(movie.tolist(), (rating * 2).astype(int).tolist())
                    if k in kaggle_rows):
        counts.setdefault(kid, [0] * 10)[lv - 1] += 1
    for t in truth.values():
        t["ratings"] = counts.get(t["kaggle_id"], [0] * 10)

    with open(f"{out}/wiki.json", "w") as f:
        json.dump(wiki, f)
    pacsv.write_csv(pa.table({c: [r[c] for r in kaggle] for c in KAGGLE_COLS}),
                    f"{out}/kaggle.csv")
    pacsv.write_csv(pa.table({
        "userId": pa.array(user, pa.int64()),
        "movieId": pa.array(movie, pa.int64()),
        "rating": rating, "timestamp": pa.array(ts, pa.int64())}),
        f"{out}/ratings.csv")
    # the JDBC append loads the ratings of the first 0.5% of users
    slice_users = max(1, n_users // 200)
    with open(f"{out}/truth.json", "w") as f:
        json.dump({"movies": truth, "slice_users": slice_users,
                   "ratings_slice_rows": int((user <= slice_users).sum())}, f)
    return len(wiki) + len(kaggle) + n_ratings


def _kaggle_row(rng, kid, imdb, i, day):
    """A movies_metadata.csv row; the zero shares of budget, revenue and
    runtime (which wiki values fill) are assumed."""
    return {
        "adult": "False", "belongs_to_collection": "",
        "budget": str(0 if rng.random() < 0.3 else int(rng.integers(1, 300)) * 100000),
        "genres": "[{'id': 18, 'name': 'Drama'}]", "homepage": "",
        "id": str(kid), "imdb_id": imdb, "original_language": "en",
        "original_title": f"Film {i}",
        "overview": f"Story number {i}, told plainly.",
        "popularity": f"{rng.uniform(0, 50):.3f}",
        "poster_path": f"/p{i}.jpg", "production_companies": "[]",
        "production_countries": "[]", "release_date": day.isoformat(),
        "revenue": str(0.0 if rng.random() < 0.3 else float(rng.integers(1, 9000)) * 1e5),
        "runtime": str(0.0 if rng.random() < 0.2 else float(rng.integers(70, 190))),
        "spoken_languages": "[]", "status": "Released", "tagline": "",
        "title": f"Film {i}", "video": "True" if rng.random() < 0.05 else "False",
        "vote_average": f"{rng.uniform(1, 10):.1f}",
        "vote_count": str(int(rng.integers(0, 5000)))}


def generate(workload, seed, out, smoke=False):
    """Write `workload`'s inputs for `seed` under `out`; returns
    (rows the workload's passes read, MB of those inputs)."""
    os.makedirs(f"{out}/movies", exist_ok=True)
    size = SMOKE if smoke else SIZES[workload]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    movie_rows = gen_movies(rng, f"{out}/movies", size["scale"])
    if workload == "movies_etl":
        export(pacsv.read_csv(f"{out}/movies/ratings.csv").slice(0, 5000),
               out, "probe")
        return movie_rows, _mb(f"{out}/movies")
    rows = gen_corpus(rng, seed, out, size["replicas"])
    return rows, _mb(out, "parquet")


def _mb(d, ext=""):
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
               if f.endswith(ext) and os.path.isfile(os.path.join(d, f))) / 1e6
