# 20,000 single-event JSON files (10k users + 10k cards), seed 7,
# 2% required-missing + 1% type-error per entity — the M3/M9/M15 recipe.
# The schemas are the ETL fixtures' draft-07 user and card schemas, shared
# with the benchmark's corpus generator.
# usage: python3 tools/gen_etl_corpus.py <out_dir>
import json, random, os, sys, shutil
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "perfbench"))
from gen import USER_SCHEMA, CARD_SCHEMA
base = sys.argv[1]
random.seed(7)
shutil.rmtree(base, ignore_errors=True)
os.makedirs(f"{base}/users"); os.makedirs(f"{base}/cards")
for f, schema in [("user-events-schema.json", USER_SCHEMA), ("card-events-schema.json", CARD_SCHEMA)]:
    with open(f"{base}/{f}", "w") as fh: json.dump(schema, fh, indent=2)
jobs = ["Commercial horticulturist", "Engineer, chemical", "Surveyor", "Teacher"]
names = ["Lawrence Welch", "Dr. Troy Rosario", "Amy Chen MD", "Bob Lee Jr."]
def uid(): return "%08x-%04x-%04x-%04x-%012x" % tuple(random.getrandbits(b) for b in (32,16,16,16,48))
for i in range(10000):
    ev = {"metadata": {"type": "user", "event_at": "2023-10-23 22:55:01", "event_id": uid()},
          "payload": {"id": i, "name": random.choice(names),
                      "address": "8279 Rodriguez Ports\nPaulbury, VI 89148",
                      "job": random.choice(jobs), "score": random.random()}}
    r = random.random()
    if r < 0.02: del ev["payload"]["name"]          # required-missing
    elif r < 0.03: ev["payload"]["id"] = "oops"     # type-error
    with open(f"{base}/users/event-{i:06d}.json", "w") as fh: json.dump(ev, fh)
for i in range(10000):
    ev = {"metadata": {"type": "card", "event_at": "2023-10-23 23:18:15", "event_id": uid()},
          "payload": {"id": i, "user_id": random.randrange(10000),
                      "created_by_name": random.choice(names),
                      "updated_at": "2023-10-23 23:18:15",
                      "created_at": "2023-10-23 23:16:17",
                      "active": random.random() < 0.5}}
    r = random.random()
    if r < 0.02: del ev["payload"]["user_id"]
    elif r < 0.03: ev["payload"]["active"] = "yes"
    with open(f"{base}/cards/event-{i:06d}.json", "w") as fh: json.dump(ev, fh)
print("generated 20000 files under", base)
