"""Seeded generator for recorded YouTube-Data-API pages (the pipeline input).

Emits response pages shaped like ``channels.list``, ``playlists.list``,
``videos.list`` and ``commentThreads.list`` under ``<out>/channels``,
``<out>/playlists``, ``<out>/videos`` and ``<out>/comments`` (one JSON
document per file, the layout ``sources.youtube_api.read_*`` reads), with
the edge cases of the test fixtures: missing ``likeCount`` /
``commentCount`` / ``country`` / ``tags``, ISO-8601 durations with missing
H/M/S parts, zoned timestamps with non-UTC offsets, multi-page playlist and
comment threads, and non-ASCII comment text.

``write_corpus`` also returns what the pipeline must produce, computed from
the generated records in plain Python: the silver row count of every
entity and the rows of each of the ten reference questions.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil

COUNTRIES = ["US", "IN", "GB", "DE", "BR", "JP"]
OFFSETS = ["+00:00"] * 6 + ["+05:30", "-08:00"]
DURATIONS = ["PT{h}H{m}M{s}S", "PT{m}M{s}S", "PT{s}S", "PT{m}M", "PT{h}H", "PT{h}H{s}S", "P0D"]
WORDS = ["lake", "spark", "data", "warehouse", "stream", "delta", "query", "tutorial", "deep", "dive"]
COMMENT_TEXT = ["Great video! ❤", "Thanks\nvery clear", "很好", "merci à vous", "first", "+1"]


def _ts(rng: random.Random, lo_year: int, hi_year: int) -> tuple[str, dt.datetime]:
    """A zoned API timestamp string and the UTC instant it denotes."""
    base = dt.datetime(lo_year, 1, 1)
    secs = rng.randrange(int((dt.datetime(hi_year + 1, 1, 1) - base).total_seconds()))
    local = base + dt.timedelta(seconds=secs)
    off = rng.choice(OFFSETS)
    text = local.strftime("%Y-%m-%dT%H:%M:%S") + off
    return text, dt.datetime.fromisoformat(text).astimezone(dt.timezone.utc).replace(tzinfo=None)


def _duration(rng: random.Random) -> tuple[str, int]:
    h, m, s = rng.randrange(1, 3), rng.randrange(1, 60), rng.randrange(1, 60)
    form = rng.choice(DURATIONS)
    text = form.format(h=h, m=m, s=s)
    secs = (h * 3600 if "{h}" in form else 0) + (m * 60 if "{m}" in form else 0) + (s if "{s}" in form else 0)
    return text, secs


def _pages(items: list, size: int) -> list[list]:
    return [items[i : i + size] for i in range(0, len(items), size)] or [[]]


def _dump(path: str, doc: dict) -> int:
    data = json.dumps(doc, indent=1, ensure_ascii=True).encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def write_corpus(out_dir: str, seed: int, channels: int, videos: int, comments: int, page_size: int = 50) -> dict:
    """Write the pages for ``channels`` x ``videos`` x ``comments`` and return
    ``{"items", "input_bytes", "files", "silver_rows", "answers"}``."""
    rng = random.Random(seed)
    shutil.rmtree(out_dir, ignore_errors=True)
    for sub in ("channels", "playlists", "videos", "comments"):
        os.makedirs(os.path.join(out_dir, sub))
    n_videos = channels * videos
    # distinct counters keep every top-10 free of ties at the cut; a counter
    # is only left out (read back as 0) below its top-10 cut
    views = rng.sample(range(1_000, 50_000_000), n_videos)
    likes = rng.sample(range(1, 2_000_000), n_videos)
    ccounts = rng.sample(range(1, 100_000), n_videos)
    like_cut = sorted(likes, reverse=True)[min(9, n_videos - 1)]
    ccount_cut = sorted(ccounts, reverse=True)[min(9, n_videos - 1)]
    ch_items, pl_items, v_items, threads = [], [], [], []
    ch_rows, v_rows = [], []
    n_playlists = 0
    for c in range(channels):
        cid = f"UC{seed:x}_{c:04d}"
        name = f"{rng.choice(WORDS).title()} Channel {c:04d}"
        country = None if rng.random() < 0.15 else rng.choice(COUNTRIES)
        ch_views = rng.randrange(10_000, 900_000_000)
        snippet = {"title": name, "publishedAt": _ts(rng, 2008, 2020)[0]}
        if country is not None:
            snippet["country"] = country
        ch_items.append(
            {
                "id": cid,
                "snippet": snippet,
                "contentDetails": {"relatedPlaylists": {"uploads": "UU" + cid[2:]}},
                "statistics": {"viewCount": str(ch_views), "subscriberCount": str(rng.randrange(100, 9_000_000)), "videoCount": str(videos)},
                "status": {"privacyStatus": rng.choice(["public", "public", "unlisted"])},
            }
        )
        ch_rows.append({"channel_id": cid, "channel_name": name, "channel_views": ch_views, "channel_uploads": videos})
        pls = [
            {"id": f"PL{seed:x}_{c:04d}_{p}", "snippet": {"title": f"{rng.choice(WORDS)} playlist {p}", "channelId": cid}}
            for p in range(rng.randrange(0, 4))
        ]
        n_playlists += len(pls)
        pl_items.append((cid, pls))
        for j in range(videos):
            k = c * videos + j
            vid = f"v{seed:x}_{c:04d}_{j:03d}"
            title = f"{rng.choice(WORDS).title()} {rng.choice(WORDS)} #{k}"
            dur_text, dur = _duration(rng)
            rel_text, rel_utc = _ts(rng, 2019, 2023)
            stats = {"viewCount": str(views[k]), "favoriteCount": "0"}
            like = None if rng.random() < 0.1 and likes[k] < like_cut else likes[k]
            if like is not None:
                stats["likeCount"] = str(like)
            ccount = None if rng.random() < 0.05 and ccounts[k] < ccount_cut else ccounts[k]
            if ccount is not None:
                stats["commentCount"] = str(ccount)
            snippet = {
                "channelTitle": name,
                "channelId": cid,
                "title": title,
                "publishedAt": rel_text,
                "thumbnails": {"default": {"url": f"https://i.ytimg.com/vi/{vid}/default.jpg"}},
                "description": f"Description of {title}",
            }
            if rng.random() >= 0.2:
                snippet["tags"] = rng.sample(WORDS, rng.randrange(1, 4))
            v_items.append(
                {
                    "id": vid,
                    "snippet": snippet,
                    "contentDetails": {"duration": dur_text, "definition": rng.choice(["hd", "sd"]), "caption": rng.choice(["true", "false"])},
                    "statistics": stats,
                }
            )
            v_rows.append(
                {
                    "channel_id": cid,
                    "channel_name": name,
                    "video_title": title,
                    "views": views[k],
                    "likes": like or 0,
                    "comment_count": ccount or 0,
                    "duration": dur,
                    "year": rel_utc.year,
                }
            )
            thread = [
                {
                    "snippet": {
                        "videoId": vid,
                        "topLevelComment": {
                            "id": f"c{seed:x}_{k}_{m}",
                            "snippet": {
                                "authorDisplayName": f"user_{rng.randrange(10_000)}",
                                "textDisplay": rng.choice(COMMENT_TEXT),
                                "publishedAt": _ts(rng, 2023, 2024)[0],
                            },
                        },
                    }
                }
                for m in range(comments)
            ]
            threads.append((vid, thread))
    n_bytes, n_files = 0, 0

    def put(sub: str, stem: str, pages: list[list]) -> None:
        nonlocal n_bytes, n_files
        for p, page in enumerate(pages):
            doc = {"items": page}
            if p + 1 < len(pages):
                doc = {"nextPageToken": f"{stem}_p{p + 2}", **doc}
            n_bytes += _dump(os.path.join(out_dir, sub, f"{stem}_p{p + 1}.json"), doc)
            n_files += 1

    put("channels", "channels", _pages(ch_items, page_size))
    put("videos", "videos", _pages(v_items, page_size))
    for i, (cid, pls) in enumerate(pl_items):
        if pls:  # a channel without playlists has no playlists.list page
            put("playlists", cid, _pages(pls, 2 if i % 3 == 0 else page_size))
    for i, (vid, thread) in enumerate(threads):
        # every fifth thread is split over two pages (nextPageToken chain)
        size = max(1, (len(thread) + 1) // 2) if i % 5 == 0 else page_size
        put("comments", vid, _pages(thread, size))

    def top10(rows, key, cols):
        return [tuple(r[c] for c in cols) for r in sorted(rows, key=lambda r: -r[key])[:10]]

    best: dict[str, int] = {}
    for r in v_rows:
        best[r["channel_id"]] = max(best.get(r["channel_id"], 0), r["likes"])
    by_name: dict[str, list[int]] = {}
    for r in v_rows:
        by_name.setdefault(r["channel_name"], []).append(r["duration"])
    answers = {
        "q1": [(r["channel_name"],) for r in ch_rows],
        "q2": [(r["channel_name"], r["channel_uploads"]) for r in ch_rows],
        "q3": top10(v_rows, "views", ("channel_name", "video_title", "views")),
        "q4": [(r["video_title"], r["comment_count"]) for r in v_rows],
        "q5": [(r["channel_name"], r["video_title"], r["likes"]) for r in v_rows if r["likes"] == best[r["channel_id"]]],
        "q6": top10(v_rows, "likes", ("video_title", "likes")),
        "q7": [(r["channel_name"], r["channel_views"]) for r in ch_rows],
        "q8": sorted({(r["channel_name"],) for r in v_rows if r["year"] == 2022}),
        "q9": [(n, sum(d) / len(d)) for n, d in by_name.items()],
        "q10": top10(v_rows, "comment_count", ("video_title", "comment_count")),
    }
    n_comments = n_videos * comments
    return {
        "items": channels + n_playlists + n_videos + n_comments,
        "input_bytes": n_bytes,
        "files": n_files,
        "silver_rows": {"channel": channels, "playlist": n_playlists, "video": n_videos, "comment": n_comments},
        "answers": answers,
    }
