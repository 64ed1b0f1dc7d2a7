#!/usr/bin/env python3
"""Writes the 25-review golden fixture, src/main/resources/reviews/sample.json.

The reference's captured Booking.com API response (its sample.json) is not
part of this repository. This script rebuilds a response of the same shape
from the witness values SURVEY.md §1.2-1.4 and FIXTURES.md §1 cite, so that
IngestSpec, PageQuerySpec and the registry queries q_ingest_reviews and
q_review_page have a committed input. Witness values kept exactly:

  - envelope {count, result[], sort_options[]} with count 25 and
    sort_options [] (sample.json:2-3,1380);
  - record 1: review_id 5140125308, date "2025-03-22 14:01:47", and no
    hotelier_response_date key (sample.json:4-56);
  - record 2: hotelier_response_date 1736152139, keys in another order than
    record 1 (sample.json:57-110, SURVEY.md §1.4);
  - "" for anonymous, author.age_group and author.city; author.avatar on
    only some records; average_score 3.59999990463257; tags and
    user_new_badges always []; reviewer_photos an array of structs;
    hotel_id 1676161 (the reference's HOTEL_ID default).

Everything else (texts, the other ids, dates, votes) is made up. Languages
and author types include values outside pageQuery's lists, and 7 records
match pageQuery with 6 distinct helpful_vote_count values, one tie broken by
recency. The output is deterministic:

    python3 tools/make_review_fixture.py
"""
import datetime
import hashlib
import json
import os

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "src", "main", "resources", "reviews", "sample.json")

HOTEL_ID = 1676161
LANGS = ["en-gb", "de", "fr", "en-us", "nl", "es"]
TYPES = ["solo_traveller", "review_category_group_of_friends",
         "review_category_couple", "review_category_family"]
TYPE_STRINGS = {"solo_traveller": "Solo traveller",
                "review_category_group_of_friends": "Group",
                "review_category_couple": "Couple",
                "review_category_family": "Family"}
COUNTRIES = ["gb", "de", "fr", "us", "nl", "es", "it"]
CITIES = ["", "London", "", "Berlin", "", "Lyon"]
VOTES = [4, 2, 0, 1, 0, 3, 0, 0, 7, 1, 0, 2, 2, 5, 0, 1, 0, 0, 3, 0, 1, 0, 0, 1, 0]
TEXTS = [
    ("Lovely stay", "Friendly staff and a great breakfast.", "The room was a bit small."),
    ("Good location", "Close to the station.", "Street noise at night."),
    ("Exceptional", "Spotless room, comfortable bed.", ""),
    ("Disappointing", "", "Slow check-in and the wifi kept dropping."),
    ("Value for money", "Good price for the area.", "Breakfast was basic."),
]
ROOMS = [(167616101, "Standard Double Room"), (167616102, "Twin Room"),
         (167616103, "Single Room")]
# 2025-01-06 08:28:59 UTC is record 2's witness response date; the other
# responses follow a day or two after their review.
RESPONSE_DATE_2 = 1736152139


def review_date(i):
    """Record 1 is the witness date and record 2 precedes its response
    date; later records are older by i*9 days and some hours (back into
    2024)."""
    if i == 0:
        return "2025-03-22 14:01:47"
    if i == 1:
        return "2025-01-04 19:42:10"
    base = datetime.datetime(2025, 3, 22, 14, 1, 47)
    d = base - datetime.timedelta(days=9 * i, hours=5 * i, minutes=7 * i)
    return d.strftime("%Y-%m-%d %H:%M:%S")


def epoch(date):
    return int(datetime.datetime.strptime(date, "%Y-%m-%d %H:%M:%S")
               .replace(tzinfo=datetime.timezone.utc).timestamp())


def record(i):
    review_id = 5140125308 if i == 0 else 5140125308 - 48611 * i - 7 * i * i
    author_type = TYPES[i % len(TYPES)]
    title, pros, cons = TEXTS[i % len(TEXTS)]
    date = review_date(i)
    room_id, room_name = ROOMS[i % len(ROOMS)]
    checkout = date[:10]
    nights = 1 + i % 4
    checkin = (datetime.date.fromisoformat(checkout)
               - datetime.timedelta(days=nights)).isoformat()
    author = {
        "type": author_type,
        "type_string": TYPE_STRINGS[author_type],
        "age_group": "" if i % 5 else "25-34",
        "countrycode": COUNTRIES[i % len(COUNTRIES)],
        "city": CITIES[i % len(CITIES)],
        "name": f"Guest {i + 1}",
        "helpful_vote_count": VOTES[i] + i % 3,
        "user_id": 600012345 + 1031 * i,
        "nr_reviews": 1 + i % 6,
    }
    if i % 3 == 2:
        author["avatar"] = f"https://cf.bstatic.com/static/img/avatar/{i + 1}.jpg"
    photo_base = f"https://cf.bstatic.com/xdata/images/hotel/{room_id}"
    r = {
        "author": author,
        "is_trivial": 0,
        "anonymous": "",
        "is_moderated": int(i % 4 == 3),
        "reviewng": 1,
        "is_incentivised": 0,
        "review_hash": hashlib.md5(str(review_id).encode()).hexdigest()[:16],
        "review_id": review_id,
        "hotelier_name": "" if i % 2 else "Front Office",
        "hotel_id": HOTEL_ID,
        "date": date,
        "title": title,
        "pros": pros,
        "cons": cons,
        "stayed_room_info": {
            "room_id": room_id,
            "photo": {
                "ratio": 1.50075,
                "url_original": f"{photo_base}/original.jpg",
                "url_max300": f"{photo_base}/max300.jpg",
                "url_square60": f"{photo_base}/square60.jpg",
                "url_640x200": f"{photo_base}/640x200.jpg",
                "photo_id": 400000 + room_id % 1000,
            },
            "checkin": checkin,
            "checkout": checkout,
            "room_name": room_name,
            "num_nights": nights,
        },
        "helpful_vote_count": VOTES[i],
        "languagecode": LANGS[i % len(LANGS)],
        "countrycode": COUNTRIES[(i + 2) % len(COUNTRIES)],
        "travel_purpose": "business" if i % 4 == 1 else "leisure",
        "average_score": 3.59999990463257 if i == 2 else round(5.0 + (i * 37 % 50) / 10, 1),
        "title_translated": "",
        "pros_translated": "",
        "cons_translated": "",
        "tags": [],
        "hotelier_response": "",
        "user_new_badges": [],
        "reviewer_photos": [] if i % 3 else [
            {"square90": f"https://cf.bstatic.com/xdata/images/review/{review_id}_{k}/square90.jpg",
             "max1280x900": f"https://cf.bstatic.com/xdata/images/review/{review_id}_{k}/max1280x900.jpg",
             "max500_ao": f"https://cf.bstatic.com/xdata/images/review/{review_id}_{k}/max500_ao.jpg",
             "square60_ao": f"https://cf.bstatic.com/xdata/images/review/{review_id}_{k}/square60_ao.jpg"}
            for k in range(1 + i % 2)],
    }
    if i % 5 == 1:
        r["hotelier_response"] = "Thank you for your review, we hope to welcome you again."
        r["hotelier_response_date"] = RESPONSE_DATE_2 if i == 1 else epoch(date) + 86400 + 3600 * i
    if i % 2:
        # odd records list their keys in another order, as record 2 does
        r = {k: r[k] for k in sorted(r, reverse=True)}
    return r


def main():
    result = [record(i) for i in range(25)]
    assert "hotelier_response_date" not in result[0]
    assert list(result[0]) != list(result[1])
    assert epoch(result[1]["date"]) < RESPONSE_DATE_2
    page = [r for r in result
            if r["languagecode"] in ("en-gb", "de", "fr")
            and r["author"]["type"] in ("solo_traveller", "review_category_group_of_friends")]
    assert len(page) >= 3 and len({r["helpful_vote_count"] for r in page}) >= 3
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as fh:
        json.dump({"count": len(result), "result": result, "sort_options": []}, fh, indent=2)
        fh.write("\n")
    print(OUT)


if __name__ == "__main__":
    main()
