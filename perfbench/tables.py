"""Seeded synthetic tables for the `queries` workload.

The schema and distributions follow the test data the registry is checked
on (TESTDATA.md: a TPC-H-like star schema plus events, documents and
embeddings): the 30-word document vocabulary with the 'dup' marker word,
planted near-duplicate and exact-duplicate documents, label-clustered
unit-norm embeddings, Poisson(4) lineitems per order, Exp(50) event
values. The same seed gives byte-identical tables.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ['join', 'hash', 'row', 'batch', 'scan', 'customer', 'column', 'filter', 'small',
         'slow', 'merge', 'order', 'vector', 'line', 'data', 'table', 'agg', 'value', 'key',
         'stream', 'window', 'spark', 'a', 'group', 'part', 'big', 'sort', 'query', 'fast',
         'the']
LANGS = ['en', 'zh', 'fr', 'es', 'de']
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']
ADJS = ['blue', 'old', 'new', 'cold', 'red', 'small', 'large', 'hot']
NOUNS = ['widget', 'bolt', 'plate', 'rod', 'anvil', 'gizmo', 'ring', 'gear']
PTYPES = ['SMALL', 'PROMO', 'ECONOMY', 'LARGE', 'STANDARD', 'MEDIUM']
PRIOS = ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
ETYPES = ['signup', 'click', 'purchase', 'error', 'view']
REGIONS = ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']
NATIONS = ['ALGERIA', 'ARGENTINA', 'BRAZIL', 'CANADA', 'EGYPT', 'ETHIOPIA', 'FRANCE',
           'GERMANY', 'INDIA', 'INDONESIA', 'IRAN', 'IRAQ', 'JAPAN', 'JORDAN', 'KENYA',
           'MOROCCO', 'MOZAMBIQUE', 'PERU', 'CHINA', 'ROMANIA', 'SAUDI ARABIA', 'VIETNAM',
           'RUSSIA', 'UNITED KINGDOM', 'UNITED STATES']
DAY_US = 86400000000
EPOCH_1995 = np.datetime64('1995-01-01').astype('datetime64[us]').astype(np.int64)
EPOCH_2024 = np.datetime64('2024-01-01').astype('datetime64[us]').astype(np.int64)


def ts(us):
    return pa.array(us, type=pa.timestamp('us'))


def pick(words, idx):
    return [words[i] for i in idx]


def documents(rng, n):
    """Uniform vocabulary words, ~2.3% 'dup'-marked near-duplicates of an
    earlier document and ~0.16% exact duplicates."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.0016:
            texts.append(texts[rng.integers(0, i)])
        elif i > 0 and r < 0.025:
            words = texts[rng.integers(0, i)].split(' ')
            for _ in range(2):
                words[rng.integers(0, len(words))] = 'dup'
            texts.append(' '.join(words))
        else:
            texts.append(' '.join(pick(VOCAB, rng.integers(0, 30, rng.integers(10, 101)))))
    return texts


def generate(sf, seed, outdir):
    """Writes the ten tables at scale factor `sf` into `outdir`."""
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_ev, n_user = int(1500000 * sf), int(1000000 * sf), int(15000 * sf)
    n_doc, n_vec = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(outdir, f'{name}.parquet'))

    write('region', {'r_regionkey': pa.array(range(5), pa.int32()), 'r_name': REGIONS})
    write('nation', {'n_nationkey': pa.array(range(25), pa.int32()), 'n_name': NATIONS,
                     'n_regionkey': pa.array([i % 5 for i in range(25)], pa.int32())})
    write('customer', {
        'c_custkey': pa.array(range(n_cust), pa.int64()),
        'c_name': [f'Customer#{i:09d}' for i in range(n_cust)],
        'c_nationkey': pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        'c_acctbal': np.round(rng.uniform(-1000, 10000, n_cust), 2),
        'c_mktsegment': pick(SEGMENTS, rng.integers(0, 5, n_cust))})
    write('supplier', {
        's_suppkey': pa.array(range(n_supp), pa.int64()),
        's_name': [f'Supplier#{i:09d}' for i in range(n_supp)],
        's_nationkey': pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        's_acctbal': np.round(rng.uniform(-1000, 10000, n_supp), 2)})
    write('part', {
        'p_partkey': pa.array(range(n_part), pa.int64()),
        'p_name': [f'{ADJS[a]} {NOUNS[b]}' for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        'p_brand': [f'Brand#{i}' for i in rng.integers(1, 26, n_part)],
        'p_type': pick(PTYPES, rng.integers(0, 6, n_part)),
        'p_size': pa.array(rng.integers(1, 51, n_part), pa.int32()),
        'p_retailprice': np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    write('orders', {
        'o_orderkey': pa.array(range(n_ord), pa.int64()),
        'o_custkey': pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        'o_orderstatus': pick(('O', 'F', 'P'), rng.integers(0, 3, n_ord)),
        'o_totalprice': np.round(rng.uniform(1000, 500000, n_ord), 2),
        'o_orderdate': ts(EPOCH_1995 + rng.integers(0, 2405, n_ord) * DAY_US),
        'o_orderpriority': pick(PRIOS, rng.integers(0, 5, n_ord))})
    li_order = np.repeat(np.arange(n_ord, dtype=np.int64), rng.poisson(4.0, n_ord))
    n_li = len(li_order)
    write('lineitem', {
        'l_orderkey': pa.array(li_order, pa.int64()),
        'l_partkey': pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        'l_suppkey': pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        'l_linenumber': pa.array(rng.integers(1, 8, n_li), pa.int32()),
        'l_quantity': rng.integers(1, 51, n_li).astype(np.float64),
        'l_extendedprice': np.round(rng.uniform(900, 105000, n_li), 2),
        'l_discount': np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        'l_tax': np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        'l_returnflag': pick(('N', 'A', 'R'), rng.integers(0, 3, n_li)),
        'l_linestatus': pick(('O', 'F'), rng.integers(0, 2, n_li)),
        'l_shipdate': ts(EPOCH_1995 + rng.integers(1, 2500, n_li) * DAY_US)})
    write('events', {
        'event_id': pa.array(range(n_ev), pa.int64()),
        'ts': ts(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev)),
        'user_id': pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        'event_type': pick(ETYPES, rng.integers(0, 5, n_ev)),
        'value': np.round(rng.exponential(50.0, n_ev), 2),
        'props': [json.dumps({'k': int(k)}) for k in rng.integers(0, 100, n_ev)]})
    texts = documents(rng, n_doc)
    write('documents', {
        'doc_id': pa.array(range(n_doc), pa.int64()),
        'text': texts,
        'lang': pick(LANGS, rng.choice(5, n_doc, p=LANG_P)),
        'source': [f'src{i}' for i in rng.integers(0, 20, n_doc)],
        'n_chars': pa.array([len(t) for t in texts], pa.int64())})
    # unit-norm 64-dim vectors around 10 label centres (cosine ~0.11 within a label)
    centres = rng.standard_normal((10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vec)
    vecs = 0.35 * centres[labels] + rng.standard_normal((n_vec, 64)) / 8.0
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write('embeddings', {
        'vec_id': pa.array(range(n_vec), pa.int64()),
        'embedding': pa.array(list(vecs), pa.list_(pa.float32())),
        'label': pa.array(labels, pa.int32())})
