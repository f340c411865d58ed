"""Seed-derived inputs: the query order of bi_queries and the keys the
table_dml operations pick. The JVM side receives only these lists."""
import random

QUERIES = (
    "q_monthly_sales", "q_top_products", "q_country_sales", "q_region_sales",
    "q_sales_cube", "q_sales_rollup", "q_running_revenue", "q_top_per_country",
    "q_quarter_pivot", "q_fk_orphans", "q_checks", "q_analyze_stats",
)

# (invoice_no, product_key, quantity, customer_key) is unique in the fact:
# the clean step deduplicates on invoice, product, quantity, date, price
# and customer, and date and price follow from invoice and product.
MERGE_KEYS = ("invoice_no", "product_key", "quantity", "customer_key")
APPEND_INVOICES = 5
MERGE_INVOICES = 3
COMPACT_EVERY = 2


def query_rounds(seed, rounds):
    """`rounds` independent shuffles of the 12 queries."""
    rng = random.Random(f"bi_queries/{seed}")
    out = []
    for _ in range(rounds):
        r = list(QUERIES)
        rng.shuffle(r)
        out.append(r)
    return out


def dml_cycles(seed, invoices, cycles):
    """One dict per cycle: the invoices an append copies and the fresh
    invoice numbers it gives them, the invoice a delete removes, the
    invoices a merge updates, and the invoice read back after each of the
    cycle's (up to four) commits. `invoices` is the sorted universe of
    invoice numbers to pick from."""
    rng = random.Random(f"table_dml/{seed}")
    out = []
    for k in range(cycles):
        out.append({
            "append_from": rng.sample(invoices, APPEND_INVOICES),
            "append_as": [f"n{seed}-{k}-{j}" for j in range(APPEND_INVOICES)],
            "delete": rng.choice(invoices),
            "merge": rng.sample(invoices, MERGE_INVOICES),
            "point": [rng.choice(invoices) for _ in range(4)],
        })
    return out
