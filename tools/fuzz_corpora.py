#!/usr/bin/env python3
"""Perturbed-corpus parity sweep (round 9).

Generates synthetic documents.parquet variants (other tables copied from
sf0.001) that stress corpus shapes the shipped testdata never exercises,
then the normal Verify -> check.py loop proves Spark/DuckDB parity on
each:

  dup:    80% exact duplicates over five texts (census/dedup saturation)
  sparse: 1-3 token docs, single chars, rare bigrams ('und' paths)
  rep:    heavy token repetition, '#'/'...'-dense docs, MULTI-LINE docs
  money:  lineitem/orders money columns with half-cent ties, negatives,
          nulls, duplicate totals and a one-row priority group (the
          exact-decimal sums and sorted-list percentiles)

The rep corpus caught two real parity families on first run: regex '.'
skipping '\n' in the BPE char-wrap seeds (fixed with (?s) on both
engines' seeds), and rdd.pipe line-splitting newline-bearing tokens in
the hadoop-streaming analogs (fixed: whitespace-run tokenization — the
reference's StringTokenizer semantics — making every piped element
line-safe).

Usage:
  python3 tools/fuzz_corpora.py [outBase=/tmp/graft_fuzz]
  # then, per corpus:
  sbt "runMain graft.Verify <outBase>/<name> <outBase>/<name>_out"
  python3 tools/check.py <outBase>/<name> <outBase>/<name>_out
"""
import pyarrow as pa, pyarrow.parquet as pq, shutil, os, random, sys

SRC = '/root/testdata/sf0.001'
LANGS = ['en', 'de', 'fr', 'es']
WORDS = ['key', 'agg', 'row', 'scan', 'slow', 'fast', 'table', 'value',
         'part', 'hash', 'merge', 'batch', 'line', 'sort', 'window',
         'spark', 'order', 'data', 'column', 'join']


def mkdir_with_tables(dst):
    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)
    for f in os.listdir(SRC):
        s = os.path.join(SRC, f)
        if f == 'documents.parquet':
            continue
        if os.path.isdir(s):
            shutil.copytree(s, os.path.join(dst, f))
        else:
            shutil.copy(s, os.path.join(dst, f))


def write_docs(dst, rows):
    orig = pq.read_table(os.path.join(SRC, 'documents.parquet'))
    t = pa.table({
        'doc_id': pa.array([r[0] for r in rows], pa.int64()),
        'text': pa.array([r[1] for r in rows], pa.string()),
        'lang': pa.array([r[2] for r in rows], pa.string()),
        'source': pa.array([r[3] for r in rows], pa.string()),
        'n_chars': pa.array([len(r[1]) for r in rows], pa.int64())})
    pq.write_table(t.select(orig.schema.names),
                   os.path.join(dst, 'documents.parquet'))


def text(n, seed):
    rnd = random.Random(seed)
    return ' '.join(rnd.choice(WORDS) for _ in range(n))


def gen(base):
    random.seed(42)
    # dup-storm
    rows, seeds = [], [text(30, i) for i in range(5)]
    for i in range(500):
        t_ = seeds[i % 5] if i < 400 else text(20 + i % 40, 1000 + i)
        rows.append((i, t_, LANGS[i % 4], f'src{i % 20}'))
    d = f'{base}/dup'; mkdir_with_tables(d); write_docs(d, rows)
    # sparse/degenerate
    rows = []
    for i in range(500):
        k = i % 10
        t_ = ['q', 'qz', 'a b', 'zx qv jq', 'xq xq xq', 'zzzz'][k] \
            if k < 6 else text(3 + i % 5, 2000 + i)
        rows.append((i, t_, LANGS[i % 4], f'src{i % 20}'))
    d = f'{base}/sparse'; mkdir_with_tables(d); write_docs(d, rows)
    # repetition / punct / multi-line
    rows = []
    for i in range(500):
        k = i % 8
        if k == 0:
            t_ = ' '.join('aaa' for _ in range(60))
        elif k == 1:
            t_ = ' '.join('# # item' for _ in range(10))
        elif k == 2:
            t_ = ('real words here ' * 5 + '... more text ... ') * 3
        elif k == 3:
            t_ = 'line one\nline two\n- bullet one\n- bullet two\n' + text(20, 3000 + i)
        elif k == 4:
            t_ = text(120, 4000 + i)
        else:
            t_ = text(15 + i % 30, 5000 + i)
        rows.append((i, t_.strip(), LANGS[i % 4], f'src{i % 20}'))
    d = f'{base}/rep'; mkdir_with_tables(d); write_docs(d, rows)
    print(f'wrote {base}/{{dup,sparse,rep}}')


def mkdir_with_docs(dst):
    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)
    for f in os.listdir(SRC):
        s = os.path.join(SRC, f)
        if f == 'embeddings.parquet':
            continue
        if os.path.isdir(s):
            shutil.copytree(s, os.path.join(dst, f))
        else:
            shutil.copy(s, os.path.join(dst, f))


def write_embs(dst, vecs):
    t = pa.table({
        'vec_id': pa.array([v[0] for v in vecs], pa.int64()),
        'embedding': pa.array([v[1] for v in vecs], pa.list_(pa.float32())),
        'label': pa.array([v[2] for v in vecs], pa.int32())})
    pq.write_table(t, os.path.join(dst, 'embeddings.parquet'))


def gen_embeddings(base):
    """Degenerate embeddings (zero vectors, mass-duplicate vectors, one
    tight tiny-magnitude cluster) — the sweep that caught the unguarded
    0/0 cosine (Spark orders NaN above every number, so zero vectors were
    'similar' to everything) and the int8 zero-scale ANSI crash."""
    random.seed(7)
    D = 64
    seed = [random.uniform(-1, 1) for _ in range(D)]
    vecs = []
    for i in range(500):
        if i < 100:
            e = [0.0] * D
        elif i < 300:
            e = seed[:]
        else:
            r = random.Random(100 + i)
            e = [r.uniform(-1, 1) for _ in range(D)]
        vecs.append((i, e, i % 16))
    d = f'{base}/emb_degen'; mkdir_with_docs(d); write_embs(d, vecs)
    vecs = []
    for i in range(500):
        r = random.Random(200 + i)
        e = [0.001 * seed[k] + 1e-6 * r.uniform(-1, 1) for k in range(D)]
        vecs.append((i, e, 0))
    d = f'{base}/emb_cluster'; mkdir_with_docs(d); write_embs(d, vecs)
    print(f'wrote {base}/{{emb_degen,emb_cluster}}')


def gen_unicode(base):
    """Unicode-heavy corpus (round 11): multibyte and multi-codepoint
    shapes the shipped (ASCII-only) corpus never exercises — CJK text
    without spaces, accented Latin, Turkish dotted/dotless I (locale-
    sensitive case mapping), combining diacritics vs precomposed forms,
    emoji (incl. ZWJ sequences and surrogate-pair code points), RTL
    scripts, and non-ASCII whitespace (NBSP, ideographic space). Stresses
    char-vs-byte counting, lower()/upper() parity (Java vs ICU), regex
    classes, shingling, BPE seeds, and md5-of-UTF-8 hashing."""
    rnd = random.Random(99)
    cjk = ['数据处理引擎在大规模集群上运行', '分散処理フレームワークの性能測定',
           '데이터 중복 제거 파이프라인', '全文検索と類似度計算']
    accents = ['café naïve résumé Zürich Köln', 'mañana über straße',
               'ÀÉÎÕÜ àéîõü ÆØÅ æøå', 'ĞÜŞİÖÇ ğüşıöç']
    tricky = ['İstanbul ISPARTA ıı İİ',             # Turkish I case pairs
              'élève élève',  # combining vs precomposed
              'ẞ ß SS ss ẞ',                   # sharp s case pairs
              'ﬁle ﬂow ﬁﬂ']               # ligature code points
    emoji = ['🚀 data 🔥 pipeline 🧪', '👨‍👩‍👧‍👦 family 🏳️‍🌈 flags',
             '𝕊𝕡𝕒𝕣𝕜 𝐃𝐚𝐭𝐚 𝔼𝕟𝕘𝕚𝕟𝕖',                  # surrogate-pair letters
             'mixed 🙂 ascii 🙃 emoji']
    rtl = ['محرك معالجة البيانات', 'מנוע עיבוד נתונים',
           'mixed عربي and English', 'שלום spark עולם']
    ws = ['nbsp separated words', 'ideo　space　here',
          'thin space zero​width', 'tab\tmix nl']
    fams = [cjk, accents, tricky, emoji, rtl, ws]
    rows = []
    for i in range(500):
        k = i % 8
        if k < 6:
            fam = fams[k]
            # i // 8 decorrelates the element pick from k = i % 8 (4
            # divides 8, so fam[i % 4] would pin each family to ONE fixed
            # element and leave 18 of the 24 curated shapes dead)
            t_ = fam[(i // 8) % len(fam)]
            if i % 3 == 0:  # splice unicode into ASCII word streams
                t_ = text(10, 9000 + i) + ' ' + t_ + ' ' + text(10, 9500 + i)
        elif k == 6:  # long CJK run, no whitespace at all
            t_ = ''.join(rnd.choice(cjk) for _ in range(5))
        else:
            t_ = text(15 + i % 30, 8000 + i)
        rows.append((i, t_, LANGS[i % 4], f'src{i % 20}'))
    d = f'{base}/uni'; mkdir_with_tables(d); write_docs(d, rows)
    print(f'wrote {base}/uni')


def gen_money(base):
    """Money-column corpus: `lineitem` and `orders` from sf0.001 with
    every sixth row's money perturbed. Half-cent ties (0.005, 1.005, 2.675,
    0.125: binary doubles just off the tie, so decimal rounding is
    exercised on both sides of it), negative amounts, nulls in
    l_quantity/l_extendedprice/o_totalprice, every fifth order total
    duplicated from its neighbour, and one order in a priority group of
    its own. Other tables are copied unchanged."""
    ties = [0.005, 1.005, 2.675, 0.125, 10.015, 99999.995]
    d = f'{base}/money'
    if os.path.exists(d):
        shutil.rmtree(d)
    os.makedirs(d)
    for f in os.listdir(SRC):
        s = os.path.join(SRC, f)
        if f in ('lineitem.parquet', 'orders.parquet'):
            continue
        if os.path.isdir(s):
            shutil.copytree(s, os.path.join(d, f))
        else:
            shutil.copy(s, os.path.join(d, f))

    def money(v, i, k):
        if i % 6 != 0:
            return v
        j = (i // 6 + k) % 8
        if j == 0:
            return None
        if j < 4:
            return ties[(i // 6) % len(ties)] * (1 if j < 3 else -1)
        return -v if j == 4 else v
    li = pq.read_table(os.path.join(SRC, 'lineitem.parquet'))
    cols = {c: li.column(c).to_pylist() for c in li.schema.names}
    for c, k in [('l_quantity', 0), ('l_extendedprice', 3),
                 ('l_discount', 5), ('l_tax', 6)]:
        vals = [money(v, i, k) for i, v in enumerate(cols[c])]
        if c in ('l_discount', 'l_tax'):  # nulls only where the corpus promises them
            vals = [0.0 if m is None else m for m in vals]
        cols[c] = vals
    pq.write_table(pa.table({c: pa.array(cols[c], li.schema.field(c).type)
                             for c in li.schema.names}),
                   os.path.join(d, 'lineitem.parquet'))
    o = pq.read_table(os.path.join(SRC, 'orders.parquet'))
    cols = {c: o.column(c).to_pylist() for c in o.schema.names}
    tot = [money(v, i, 1) for i, v in enumerate(cols['o_totalprice'])]
    cols['o_totalprice'] = [tot[i - 1] if i % 5 == 0 and i > 0 else v
                            for i, v in enumerate(tot)]
    cols['o_orderpriority'][7] = '0-SOLO'
    pq.write_table(pa.table({c: pa.array(cols[c], o.schema.field(c).type)
                             for c in o.schema.names}),
                   os.path.join(d, 'orders.parquet'))
    print(f'wrote {d}')


if __name__ == '__main__':
    base = sys.argv[1] if len(sys.argv) > 1 else '/tmp/graft_fuzz'
    gen(base)
    gen_embeddings(base)
    gen_unicode(base)
    gen_money(base)
