"""Seeded playlist pages and an independent model of the ETL's output.

A page follows `graft.etl.Schemas.PlaylistSchema`: `{"items": [...]}` with 50
items like the reference's Top 50, pretty-printed over many lines, named
`page_00000.json` so lexicographic order is landing order. Artists and
albums are drawn from Zipf-skewed pools, so keep-first dedup has real
duplicates to drop. An artist's or album's share link carries a token that
changes every 25 items, as links fetched at different times do, so keeping
the first or the last occurrence of an id gives different rows. Every page
set carries all three `release_date` precisions, multi-artist items and
items with an empty `artists` array.

The model is written from the ETL's contract, not from its code:
- songs: one row per item; the primary artist is `artists[0]`;
- artists and albums: keep the first occurrence of each id, in
  (page, position) order; an empty `artists` array gives a null artist,
  which forms one group of its own;
- `release_date` "yyyy" / "yyyy-MM" / "yyyy-MM-dd" parses to the first day
  of the period.
"""
import csv
import datetime as dt
import json
import random
from collections import Counter
from pathlib import Path

ITEMS_PER_PAGE = 50
WORDS = ["neon", "river", "ghost", "velvet", "summer", "echo", "paper", "gold",
         "midnight", "static", "honey", "thunder", "glass", "wild", "silver",
         "ocean", "fever", "canyon", "lullaby", "Ñandú", "Zoë", "Ærø", "夜"]


def _zipf_weights(n, s=1.1):
    return [1.0 / (r ** s) for r in range(1, n + 1)]


def _name(rng, k):
    return " ".join(rng.choice(WORDS) for _ in range(k)).title()


def _fetched(obj, token):
    """A pooled artist or album as one fetch returns it: with its share token."""
    url = obj["external_urls"]["spotify"]
    return dict({k: v for k, v in obj.items() if k != "_artist"},
                external_urls={"spotify": f"{url}?si={token}"})


def generate(seed, n_pages, out_dir, prefix="page"):
    """Write `n_pages` pages to `out_dir`; return them as parsed dicts."""
    rng = random.Random(seed)
    n_artists, n_albums = 40 + n_pages * 4, 60 + n_pages * 6
    artists = [{"id": f"ar{seed % 1000:03d}{i:05d}",
                "name": _name(rng, 2) + (", The" if i % 13 == 0 else ""),
                "external_urls": {"spotify": f"https://open.spotify.com/artist/ar{i:05d}"}}
               for i in range(n_artists)]
    precisions = ["%Y", "%Y-%m", "%Y-%m-%d"]
    albums = []
    for i in range(n_albums):
        day = dt.date(1970, 1, 1) + dt.timedelta(days=rng.randrange(20000))
        albums.append({"id": f"al{seed % 1000:03d}{i:05d}", "name": _name(rng, 3),
                       "release_date": day.strftime(precisions[i % 3]),
                       "total_tracks": rng.randrange(1, 30),
                       "external_urls": {"spotify": f"https://open.spotify.com/album/al{i:05d}"},
                       "_artist": rng.randrange(n_artists)})
    w_art, w_alb = _zipf_weights(n_artists), _zipf_weights(n_albums)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    pages = []
    song_seq = 0
    for p in range(n_pages):
        items = []
        for pos in range(ITEMS_PER_PAGE):
            album = rng.choices(albums, w_alb)[0]
            token = (p * ITEMS_PER_PAGE + pos) // 25
            kind = (p * ITEMS_PER_PAGE + pos) % 17
            if kind == 5:
                credits = []  # local or removed track: no artists
            elif kind in (2, 9, 14):
                extra = rng.choices(range(n_artists), w_art, k=rng.randrange(1, 3))
                credits = [artists[album["_artist"]]] + [artists[i] for i in extra]
            else:
                credits = [artists[rng.choices(range(n_artists), w_art)[0]]]
            song_seq += 1
            added = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
                seconds=rng.randrange(30_000_000))
            items.append({
                "added_at": added.strftime("%Y-%m-%dT%H:%M:%SZ"),
                "track": {
                    "id": f"tr{seed % 1000:03d}{song_seq:07d}",
                    "name": _name(rng, rng.randrange(1, 4)),
                    "duration_ms": rng.randrange(90_000, 420_000),
                    "popularity": rng.randrange(0, 101),
                    "external_urls": {"spotify": f"https://open.spotify.com/track/{song_seq}"},
                    "album": _fetched(album, token),
                    "artists": [_fetched(a, token) for a in credits],
                }})
        page = {"href": f"https://api.spotify.com/v1/playlists/bench/tracks?offset={p * 50}",
                "items": items, "limit": ITEMS_PER_PAGE, "total": n_pages * ITEMS_PER_PAGE}
        (out / f"{prefix}_{p:05d}.json").write_text(
            json.dumps(page, indent=2, ensure_ascii=False), encoding="utf-8")
        pages.append(page)
    return pages


def load(dir_):
    """Pages of a landing dir in lexicographic file order."""
    return [json.loads(f.read_text(encoding="utf-8"))
            for f in sorted(Path(dir_).glob("*.json"))]


def parse_release(s):
    for fmt in ("%Y-%m-%d", "%Y-%m", "%Y"):
        try:
            return dt.datetime.strptime(s, fmt).date().isoformat()
        except (TypeError, ValueError):
            pass
    return None


def _rows(pages):
    for page in pages:
        for item in page["items"]:
            t = item["track"]
            a = t["artists"][0] if t["artists"] else None
            alb = t["album"]
            song = (t["id"], t["name"], str(t["duration_ms"]), t["external_urls"]["spotify"],
                    str(t["popularity"]), item["added_at"], alb["id"], a["id"] if a else None)
            artist = (a["id"], a["name"], a["external_urls"]["spotify"]) if a else (None, None, None)
            album = (alb["id"], alb["name"], parse_release(alb["release_date"]),
                     str(alb["total_tracks"]), alb["external_urls"]["spotify"])
            yield song, artist, album


def expected(pages):
    """(songs, artists, albums) multisets for one keep-first pass over `pages`."""
    songs, artists, albums = Counter(), {}, {}
    for song, artist, album in _rows(pages):
        songs[song] += 1
        artists.setdefault(artist[0], artist)
        albums.setdefault(album[0], album)
    return songs, Counter(artists.values()), Counter(albums.values())


def expected_batch(pages):
    """A batch drain: keep-first across the whole directory."""
    return expected(pages)


def expected_stream(pages):
    """A per-file stream: the union of each page's own keep-first result."""
    total = [Counter(), Counter(), Counter()]
    for page in pages:
        for acc, part in zip(total, expected([page])):
            acc.update(part)
    return tuple(total)


def _norm_ts(s):
    if not s:
        return None
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).astimezone(
        dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _read_table(root):
    """All CSV rows under `root` (any run layout), header dropped; an empty
    unquoted field is null."""
    rows = Counter()
    for f in sorted(Path(root).rglob("*.csv")):
        with open(f, newline="", encoding="utf-8") as fh:
            r = csv.reader(fh, escapechar="\\", doublequote=False)
            next(r, None)
            for row in r:
                rows[tuple(v if v != "" else None for v in row)] += 1
    return rows


def read_output(out_dir):
    """(songs, artists, albums) multisets written by the ETL to `out_dir`."""
    songs = Counter()
    for row, n in _read_table(Path(out_dir) / "song_data").items():
        r = list(row)
        r[5] = _norm_ts(r[5])
        songs[tuple(r)] += n
    return (songs, _read_table(Path(out_dir) / "artist_data"),
            _read_table(Path(out_dir) / "album_data"))


def compare(want, got):
    """Mismatch descriptions, one per wrong table; empty when equal."""
    errors = []
    for table, w, g in zip(("songs", "artists", "albums"), want, got):
        if w != g:
            missing, extra = w - g, g - w
            errors.append(f"{table}: {sum(missing.values())} rows missing "
                          f"(e.g. {next(iter(missing), None)}), {sum(extra.values())} "
                          f"unexpected (e.g. {next(iter(extra), None)})")
    return errors
