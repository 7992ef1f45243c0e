"""Seeded CSV inputs for the benchmark's SQL-text queries.

The same seed always writes the same bytes. `sales.csv` is registered with
Context.registerCsv and `customers.csv` with CREATE EXTERNAL TABLE; both
carry a header row. Amounts are integer cents so every aggregate the
queries take is exact in both Spark and DuckDB.
"""
import os
import random

SALES_ROWS = 40000
CUSTOMERS = 800
REGIONS = ["NORTH", "NORTHEAST", "NORTHWEST", "SOUTH", "EAST", "WEST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def generate(seed, out_dir):
    """Write sales.csv and customers.csv for `seed` into `out_dir`."""
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "customers.csv"), "w") as f:
        f.write("cust_id,name,segment,signup_year\n")
        for c in range(CUSTOMERS):
            f.write(f"{c},Customer#{rnd.randrange(10**6):06d}-{c},"
                    f"{rnd.choice(SEGMENTS)},{rnd.randint(2005, 2024)}\n")
    with open(os.path.join(out_dir, "sales.csv"), "w") as f:
        f.write("sale_id,cust_id,region,amount_cents,qty,day\n")
        for i in range(SALES_ROWS):
            # a skewed customer draw: a few customers buy most often
            cust = min(int(rnd.paretovariate(1.2)) - 1, CUSTOMERS - 1)
            cust = (cust * 7919 + seed) % CUSTOMERS
            f.write(f"{i},{cust},{rnd.choice(REGIONS)},"
                    f"{rnd.randint(100, 250000)},{rnd.randint(1, 9)},"
                    f"2024-{rnd.randint(1, 12):02d}-{rnd.randint(1, 28):02d}\n")
