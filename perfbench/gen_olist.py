#!/usr/bin/env python3
"""Seeded generator of Olist-shaped raw CSVs (schemas and value ranges of
FIXTURES.md section A) at any multiple of the reference's row counts.

At scale 1 the draw has the reference's sizes: 100 customers, 200 orders,
~300 order items, 150 products, 50 sellers, ~200 reviews and the optional
5-row category translation file. Besides the plain shapes it includes the
cases the pipeline must handle:
  - null review titles (~2/3) and messages (~1/2), filled 'unknown';
  - missing delivery timestamps on orders that were not delivered;
  - orders with 0 reviews and orders with 2 reviews (hazard H8: the fact's
    left join to reviews repeats that order's items);
  - a few null product measurements, filled by the per-column median.

Next to the CSVs it writes `ground_truth.json`: row counts of every raw
table and the price and freight sums of the order items.

Usage: python3 gen_olist.py <out_dir> --seed N [--scale K]
"""
import argparse
import csv
import datetime as dt
import json
import os
import random

CITIES = ["Sao Paulo", "Rio de Janeiro", "Belo Horizonte", "Porto Alegre", "Brasilia"]
CUSTOMER_STATES = ["SP", "RJ", "MG", "RS", "DF"]
SELLER_STATES = ["SP", "RJ", "MG", "PR", "BA"]
CATEGORIES = ["electronics", "furniture", "toys", "books", "clothing"]
STATUSES = ["delivered"] * 7 + ["shipped", "processing", "canceled"]
YEAR_START = dt.datetime(2022, 1, 1)

TABLES = {
    "customers": "olist_customers_dataset.csv",
    "orders": "olist_orders_dataset.csv",
    "order_items": "olist_order_items_dataset.csv",
    "products": "olist_products_dataset.csv",
    "sellers": "olist_sellers_dataset.csv",
    "reviews": "olist_order_reviews_dataset.csv",
    "category_translation": "product_category_name_translation.csv",
}


def ts(t):
    """The raw files' timestamp form: 9 fractional digits, all zero."""
    return "" if t is None else t.strftime("%Y-%m-%d %H:%M:%S") + ".000000000"


def write(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def generate(out_dir, seed, scale):
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_prod, n_sell = 100 * scale, 200 * scale, 150 * scale, 50 * scale

    customers = [(f"cust_{i}", f"uniq_{i}", rnd.randint(10000, 99999),
                  rnd.choice(CITIES), rnd.choice(CUSTOMER_STATES)) for i in range(n_cust)]

    def measure(lo, hi):
        return "" if rnd.random() < 0.02 else rnd.randint(lo, hi)

    products = [(f"prod_{i}", rnd.choice(CATEGORIES), measure(20, 60), measure(100, 2000),
                 measure(1, 6), measure(100, 20000), measure(10, 100), measure(5, 80),
                 measure(10, 80)) for i in range(n_prod)]
    sellers = [(f"seller_{i}", rnd.randint(10000, 99999), rnd.choice(CITIES),
                rnd.choice(SELLER_STATES)) for i in range(n_sell)]

    orders, items, reviews = [], [], []
    price_cents = freight_cents = 0
    for i in range(n_ord):
        oid = f"order_{i}"
        status = rnd.choice(STATUSES)
        # purchases fall on whole days, as in the reference draw (its
        # dim_date is midnight-based). With a time of day, Model's dim_date,
        # a daily sequence from the earliest purchase time (pandas
        # date_range semantics), can stop short of the last purchase day,
        # and Quality.check then reports a date_id FK violation.
        bought = YEAR_START + dt.timedelta(days=rnd.randrange(365))
        approved = bought + dt.timedelta(hours=rnd.randint(1, 48))
        carrier = approved + dt.timedelta(days=rnd.randint(1, 5)) \
            if status in ("delivered", "shipped") else None
        delivered = carrier + dt.timedelta(days=rnd.randint(1, 20)) \
            if status == "delivered" else None
        estimated = bought + dt.timedelta(days=rnd.randint(10, 30))
        orders.append((oid, f"cust_{rnd.randrange(n_cust)}", status, ts(bought),
                       ts(None if status == "canceled" else approved), ts(carrier),
                       ts(delivered), ts(estimated)))
        # 0-4 items per order, mean 1.5, so ~300 items per 200 orders;
        # (order_id, order_item_id) is unique like the real dataset's key
        for n in range(1, rnd.choices(range(5), weights=[30, 25, 20, 15, 10])[0] + 1):
            pc, fc = rnd.randint(1000, 100000), rnd.randint(500, 10000)
            price_cents += pc
            freight_cents += fc
            items.append((oid, n, f"prod_{rnd.randrange(n_prod)}",
                          f"seller_{rnd.randrange(n_sell)}",
                          ts(bought + dt.timedelta(days=rnd.randint(2, 7))),
                          f"{pc / 100:.2f}", f"{fc / 100:.2f}"))
        # 90% one review, 5% none, 5% two (H8)
        n_rev = rnd.choices([1, 0, 2], weights=[90, 5, 5])[0]
        for _ in range(n_rev):
            created = bought + dt.timedelta(days=rnd.randint(5, 40))
            reviews.append((f"rev_{len(reviews)}", oid, rnd.randint(1, 5),
                            "" if rnd.random() < 2 / 3 else rnd.choice(["good", "bad", "ok"]),
                            "" if rnd.random() < 1 / 2 else rnd.choice(
                                ["arrived on time", "late delivery", "as described"]),
                            ts(created), ts(created + dt.timedelta(hours=rnd.randint(1, 72)))))

    path = lambda t: os.path.join(out_dir, TABLES[t])
    write(path("customers"), ["customer_id", "customer_unique_id", "customer_zip_code_prefix",
                              "customer_city", "customer_state"], customers)
    write(path("orders"), ["order_id", "customer_id", "order_status",
                           "order_purchase_timestamp", "order_approved_at",
                           "order_delivered_carrier_date", "order_delivered_customer_date",
                           "order_estimated_delivery_date"], orders)
    write(path("order_items"), ["order_id", "order_item_id", "product_id", "seller_id",
                                "shipping_limit_date", "price", "freight_value"], items)
    write(path("products"), ["product_id", "product_category_name", "product_name_length",
                             "product_description_length", "product_photos_qty",
                             "product_weight_g", "product_length_cm", "product_height_cm",
                             "product_width_cm"], products)
    write(path("sellers"), ["seller_id", "seller_zip_code_prefix", "seller_city",
                            "seller_state"], sellers)
    write(path("reviews"), ["review_id", "order_id", "review_score", "review_comment_title",
                            "review_comment_message", "review_creation_date",
                            "review_answer_timestamp"], reviews)
    write(path("category_translation"),
          ["product_category_name", "product_category_name_english"],
          [(c, c) for c in CATEGORIES])

    truth = {
        "seed": seed, "scale": scale,
        "rows": {"customers": len(customers), "orders": len(orders),
                 "order_items": len(items), "products": len(products),
                 "sellers": len(sellers), "reviews": len(reviews),
                 "category_translation": len(CATEGORIES)},
        "price_sum": price_cents / 100, "freight_sum": freight_cents / 100,
    }
    with open(os.path.join(out_dir, "ground_truth.json"), "w") as f:
        json.dump(truth, f, indent=1)
    return truth


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=int, default=1)
    a = ap.parse_args()
    print(json.dumps(generate(a.out_dir, a.seed, a.scale)))
