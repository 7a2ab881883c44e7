import json, hashlib, os, sys, tempfile
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from frontier_engine.session import get_spark
from frontier_engine import synth, pipeline
from frontier_engine.frontier import FrontierEngine

spark = get_spark(cores=8, driver_memory='8g', app='golden_gen')
pdf = synth.generate_pages(300, 42, 40)
pages = spark.createDataFrame(pdf)
seeds = spark.createDataFrame(synth.generate_seeds(pdf, n_seeds=40))
robots = spark.createDataFrame(synth.generate_robots(pdf))
prepared = pipeline.dedup_newest(pipeline.canonicalized(pages)).persist()

eng = FrontierEngine(spark, tempfile.mkdtemp(prefix='golden_'), n_shards=8, bloom_bits=1 << 16, budget=5)
eng.init(seeds, robots)
counters = [eng.run_round(prepared) for _ in range(2)]
sched = [
    [r.round, r.host, r.seq, r.url_norm, r.idx_id]
    for r in eng.schedule_table().orderBy('round', 'host', 'seq').collect()
]
payload = eng.store.read(spark, 'payload_docs')
pl = sorted(
    [r.idx_id, hashlib.sha256((r.full_body or '').encode()).hexdigest()[:16],
     hashlib.sha256((r.body or '').encode()).hexdigest()[:16], r.lang, r.title]
    for r in payload.collect()
)
golden = {
    'counters': [dict(c) for c in counters],
    'schedule': sched,
    'payload_hashes': pl,
}
with open(os.path.join(ROOT, 'tests', 'golden', 'crawl_golden.json'), 'w') as f:
    json.dump(golden, f, indent=1)
print('golden rows:', len(sched), 'payload:', len(pl))
spark.stop()
