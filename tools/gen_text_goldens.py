#!/usr/bin/env python3
"""Golden generator for the text kernel: reimplements the reference's pure
text semantics (see /root/reference/src/processor.py, text_limits.py,
uploader.py, ocr_client.py, ocr_watcher.py) in Python -- where they are
native -- and freezes input/output pairs so the Scala kernel can be checked
for Python/JVM byte identity. Deterministic; run once, commit output.

    python3 tools/gen_text_goldens.py                 # golden/text_kernel.json
    python3 tools/gen_text_goldens.py --fuzz          # golden/text_kernel_fuzz.json
"""
import argparse, base64, hashlib, io, json, os, random, re, sys

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), '..')
GOLDEN_DIR = os.path.join(ROOT, 'src', 'test', 'resources', 'golden')
WORDLIST = os.path.join(ROOT, 'src', 'main', 'resources', 'graft', 'wordlist.txt')

FALLBACK_MAX = 204800
FALLBACK_MIN_PRINTABLE = 0.99

def truncate_text(s, cap):
    if cap is None or len(s) <= cap: return s
    return s[:cap]

def extract_text_from_file(data: bytes, cap):
    # Reference opens files in TEXT mode (src/processor.py:656,659):
    # universal-newline translation applies, and the cap counts translated
    # characters. io.TextIOWrapper reproduces open() exactly.
    def _read(enc):
        f = io.TextIOWrapper(io.BytesIO(data), encoding=enc)
        return f.read() if cap is None else f.read(cap)
    try:
        text = _read('utf-8')
    except UnicodeDecodeError:
        text = _read('latin-1')
    return text if text.strip() else None

def extract_text_fallback(data: bytes, cap):
    if len(data) > FALLBACK_MAX: return None
    read_n = len(data) if cap is None else min(len(data), cap)
    raw = data[:read_n]
    if b'\x00' in raw: return None
    try: text = raw.decode('utf-8')
    except UnicodeDecodeError: text = raw.decode('latin-1')
    if not text.strip(): return None
    printable = sum(1 for c in text if c.isprintable() or c in '\n\r\t')
    if printable/len(text) < FALLBACK_MIN_PRINTABLE: return None
    return text.replace('\x00','')

def sanitize_text(text, cap=None):
    if not text: return text
    text = truncate_text(text, cap)
    text = text.replace('\x00','')
    return re.sub(r'[^\x20-\x7E\n\r\t -￿]', '', text)

def printable_ratio(text):
    if not text: return 0.0
    return sum(1 for c in text if c.isprintable() or c in '\n\r\t')/len(text)

def should_use_ocr(embedded_text, ocr_text, ocr_quality):
    emb_len = len(embedded_text.strip()) if embedded_text else 0
    ocr_len = len(ocr_text.strip())
    if emb_len < 10:
        return (True,'no_embedded_ocr_found_text') if ocr_len > 50 else (False,'both_empty')
    if ocr_len > emb_len*2 and ocr_len > 200: return (True,'ocr_found_more')
    if ocr_len > 100 and ocr_quality > 0.4:
        if emb_len < 500 and ocr_quality > 0.5: return (True,'ocr_better_for_short_embedded')
    return (False,'embedded_ok')

def get_final_text(embedded_text, ocr_text, reason):
    embedded = embedded_text.strip() if embedded_text else ''
    ocr = ocr_text.strip() if ocr_text is not None else ''
    if reason == 'both_empty': return ''
    if reason == 'embedded_ok': return embedded
    if reason in ('ocr_found_more','ocr_better_for_short_embedded','no_embedded_ocr_found_text'):
        if embedded and len(embedded) > 50 and reason != 'no_embedded_ocr_found_text':
            return f"{ocr}\n\n--- embedded text ---\n\n{embedded}"
        return ocr
    return embedded if embedded else ocr

def compute_quality(text, wordlist):
    if not wordlist or not text: return 0.5
    words = text.lower().split()
    checkable = [w.strip('.,;:!?()[]{}"\'-') for w in words if len(w) >= 3]
    checkable = [w for w in checkable if w.isalpha()]
    if len(checkable) < 3: return 0.5
    return sum(1 for w in checkable if w in wordlist)/len(checkable)

def write_goldens():
    """The hand-picked cases: golden/text_kernel.json."""
    emoji = '\U0001F600'  # astral
    byte_cases = [
        b'hello world',
        'café über straße'.encode('utf-8'),
        'café über'.encode('latin-1'),           # broken as utf-8
        b'\xff\xfe invalid utf8 \xc3',
        ('emoji ' + emoji + ' tail').encode('utf-8'),
        b'   \t\n  ',                                       # blank
        '  '.encode('utf-8'),                     # NBSP-only (py-blank!)
        b'line1\nline2\r\nline3\ttab',
        b'nul\x00inside',
        ('a'*9 + emoji + 'b'*20).encode('utf-8'),          # astral before cap
        bytes(range(1,32))*3,                               # control soup
        ('ok text ' * 100 + '\x01\x02').encode('utf-8'),   # ~0.997 printable
        ('x '*50 + '\x01'*3).encode('utf-8'),              # below 0.99
        '  ​­zero-width'.encode('utf-8'),  # Zl/Zp/Cf
        b'%PDF-1.4 fake',
        # universal-newline cases (text-mode translation, ADVICE r1)
        b'crlf line1\r\nline2\r\nend\r',
        b'lone\rcarriage\rreturns',
        b'mixed\r\nnewlines\rand\nnl',
        b'umlaut \xe4\r\nnext line',
        b'a\r\nb\r\nc\r\nd',
        b'x' * 9000 + b'\xff tail',
        'mixed � repl and  private'.encode('utf-8'),
    ]
    caps = [None, 5, 10, 64]
    cases = []
    for data in byte_cases:
        for cap in caps:
            cases.append({
                'input_b64': base64.b64encode(data).decode(),
                'cap': cap,
                'from_file': extract_text_from_file(data, cap),
                'fallback': extract_text_fallback(data, cap),
            })

    texts = [
        'plain ascii', 'café über', 'emoji ' + emoji + ' gone',
        'nbsp kept', 'ctrl\x01\x02\x03gone', 'nul\x00gone',
        'line\nbreaks\r\nkept\ttabs', ' sep ', 'astral pair ' + '\U0001D11E',
        'hi­soft', 'full￿width', '', '   ', ' ',
    ]
    text_cases = [{
        'text': t,
        'sanitize': sanitize_text(t),
        'sanitize_cap10': sanitize_text(t, 10),
        'truncate5': truncate_text(t, 5),
        'printable_ratio': printable_ratio(t),
        'strip_blank': not t.strip(),
    } for t in texts]

    ocr_cases = []
    for emb, ocr, q in [
        ('', 'x'*60, 0.8), ('', 'x'*50, 0.8), ('short', 'y'*51, 0.3),
        ('e'*100, 'o'*201, 0.2), ('e'*100, 'o'*200, 0.9), ('e'*150, 'o'*120, 0.6),
        ('e'*499, 'o'*101, 0.51), ('e'*500, 'o'*101, 0.9), ('e'*499, 'o'*101, 0.5),
        ('e'*60, 'o'*500, 0.45), ('  pad  ' + 'e'*8, 'o'*60, 0.6), (None, 'o'*60, 0.6),
    ]:
        use, reason = should_use_ocr(emb, ocr, q)
        ocr_cases.append({'emb': emb, 'ocr': ocr, 'quality': q, 'use': use,
                          'reason': reason,
                          'final': get_final_text(emb, ocr, reason)})

    wordlist = set(open(WORDLIST, encoding='utf-8').read().strip().split('\n'))
    quality_texts = [
        'the quick brown fox and the lazy dog in the house',
        'xqz jkl vwp qrs mno zzz yyy xxx',
        'der mann und die frau in dem haus',
        'a b c', 'one two', 'Hello, world! This is good text.',
        'x1x y2y z3z w4w v5v u6u',
    ]
    quality_cases = [{'text': t, 'quality': compute_quality(t, wordlist)} for t in quality_texts]

    out = {'byte_cases': cases, 'text_cases': text_cases,
           'ocr_cases': ocr_cases, 'quality_cases': quality_cases,
           'python': sys.version}
    with open(os.path.join(GOLDEN_DIR, 'text_kernel.json'), 'w') as f:
        json.dump(out, f, ensure_ascii=True, indent=1)
    print('cases:', len(cases), len(text_cases), len(ocr_cases), len(quality_cases))


# --- seeded fuzz: golden/text_kernel_fuzz.json ------------------------
# Code points drawn only from blocks whose Unicode data did not change
# between Unicode 13 (JDK 17) and 14 (CPython 3.11), so that category,
# case and whitespace answers agree by construction.
CP_POOLS = [
    range(0x20, 0x7F), range(0x01, 0x20), [0x7F], range(0x80, 0x100),
    range(0x100, 0x180), range(0x391, 0x3CA), range(0x400, 0x460),
    range(0x2000, 0x2070), range(0x4E00, 0x4E40), range(0xAC00, 0xAC20),
    range(0xE000, 0xE008), [0xFEFF, 0xFFF9, 0xFFFC, 0xFFFD, 0xFFFE, 0xFFFF],
    [0x1680, 0x3000, 0x0130, 0x03A3, 0x212A, 0x1E9E],
    range(0x1F600, 0x1F650), range(0x1D400, 0x1D460), range(0x10400, 0x10450),
    [0xE0001, 0xF0000, 0x10FFFF],
]
SPACES = [' ', ' ', ' ', '\t', '\n', '\r\n', '\x0b', '\x0c', '\x1c', '\x1f',
          '\x85', '\xa0', '\u1680', '\u2003', '\u2028', '\u2029', '\u3000']
STRIP = '.,;:!?()[]{}"\'-'
SINGLE_NONPRINTABLE = ['\x01', '\x7f', '\x80', '\x9f', '\xa0', '\xad', '\u200b',
                       '\u2028', '\ue000', '\u0378', '\ufeff', '\U000e0001']
BIG = 1000  # outputs longer than this are stored as a digest
SEED = 12   # the fuzz cases' seed, written into the golden


def fuzz_cp(rnd):
    pool = rnd.choice(CP_POOLS)
    return pool[rnd.randrange(len(pool))]


def fuzz_text(rnd, n):
    return ''.join(chr(fuzz_cp(rnd)) for _ in range(n))


def mutate(rnd, data):
    b = bytearray(data)
    for _ in range(1 + rnd.randrange(3)):
        op = rnd.randrange(4)
        at = rnd.randrange(len(b) + 1)
        if op == 0 and b: b[min(at, len(b) - 1)] = rnd.randrange(256)
        elif op == 1: b[at:at] = bytes([rnd.choice([0x80, 0xBF, 0xC0, 0xC2, 0xE0, 0xED,
                                                    0xF0, 0xF4, 0xF5, 0xFF, 0x00])])
        elif op == 2 and b: del b[min(at, len(b) - 1)]
        else: b = b[:at]
    return bytes(b)


def edge_byte_cases():
    """Named cases: gates, decoder edges and the 0.99 printable boundary."""
    cases = [b'', b' ', b'\t\n\r\x0b\x0c', b'\x1c\x1d\x1e\x1f', b'\xa0', b'\x85',
             '\xa0'.encode(), '\x85'.encode(), ' \u3000\u2028\u2029 '.encode(),
             '\xa0\x85\x1c x'.encode(), b'\x00', b'a\x00', b'\x00a',
             b'eight ch\x00rs', b'abcdefgh\x00', b'x' * 100 + b'\x00', b'x' * 99 + b'\x00']
    for seq in ['ED A0 80', 'ED BF BF', 'ED 9F BF', 'EE 80 80', 'C0 80', 'C1 BF', 'C2 80',
                'DF BF', 'E0 80 80', 'E0 9F BF', 'E0 A0 80', 'EF BF BF', 'F0 80 80 80',
                'F0 8F BF BF', 'F0 90 80 80', 'F4 8F BF BF', 'F4 90 80 80', 'F5 80 80 80',
                'FF', 'FE', '80', 'BF', 'C2', 'E2 82', 'F0 9F 98', 'E2 28 A1', 'C2 41']:
        raw = bytes.fromhex(seq)
        cases += [raw, b'ok ' + raw, b'ok ' + raw + b' tail', raw * 3]
    # caps that cut a multibyte sequence: 8 and 100 land inside it
    for ch in ['\xe4', '\u20ac', '\U0001F600']:
        e = ch.encode()
        for k in range(len(e)):
            cases.append(b'a' * (8 - k - 1) + e + b' after')
            cases.append(b'b' * (100 - k - 1) + e + b' after')
    # printable counts at the 0.99 edge, for ASCII, UTF-8 and latin-1 text
    for n in (100, 200, 300, 1000):
        for bad in SINGLE_NONPRINTABLE:
            for k in (n // 100 - 1, n // 100, n // 100 + 1):
                t = ('x ' * n)[:n - k] + bad * k
                if ord(bad) < 0x100:
                    cases.append(t.encode('latin-1') + b'\xff')  # invalid UTF-8
                cases.append(t.encode())
    return cases


def fuzz_byte_cases(rnd, count):
    cases = []
    while len(cases) < count:
        kind = rnd.randrange(6)
        n = rnd.choice([rnd.randrange(12), rnd.randrange(120), rnd.randrange(400)])
        if kind == 0:
            data = bytes(rnd.randrange(256) for _ in range(n))
        elif kind == 1:
            data = fuzz_text(rnd, n).encode()
        elif kind == 2:
            data = mutate(rnd, fuzz_text(rnd, n).encode())
        elif kind == 3:
            data = ''.join(chr(rnd.randrange(0x20, 0x100)) for _ in range(n)).encode('latin-1')
        elif kind == 4:  # mostly printable ASCII with a few controls: near the ratio gate
            data = bytes(rnd.choice(b'\x01\x07\x0b\x1b\x7f') if rnd.random() < 0.012
                         else rnd.randrange(0x20, 0x7F) for _ in range(n))
        else:
            data = ''.join(rnd.choice(SPACES) if rnd.random() < 0.8 else chr(fuzz_cp(rnd))
                           for _ in range(n)).encode()
        cases.append(data)
    return cases


def quality_texts(rnd, wordlist, count):
    words = sorted(wordlist)
    special = ['\u0130', '\u0130st', 'DAS\u0130', '\u03a3\u039f\u03a6\u039f\u03a3',
               '\u03bf\u03b4\u03bf\u03c3', '\u212aind', '\u1e9e', '\U00010400\U00010401\U00010402',
               '\U0001D400\U0001D401\U0001D402', '\ud800ab', 'ab\udfff', 'x\ud83d', '\U0001F600\U0001F600\U0001F600']
    texts = ['', ' ', 'a', '...', '--- ??? !!!', '\u0130\u0130\u0130 \u0130\u0130\u0130 \u0130\u0130\u0130 the and for']
    while len(texts) < count:
        toks = []
        for _ in range(rnd.randrange(1, 14)):
            k = rnd.randrange(10)
            if k < 4:
                w = rnd.choice(words)
                w = rnd.choice([w, w.upper(), w.title(), w[:1].upper() + w[1:]])
            elif k == 4:
                w = ''.join(rnd.choice(STRIP) for _ in range(rnd.randrange(1, 5)))
            elif k == 5:
                w = rnd.choice(special)
            elif k == 6:
                w = fuzz_text(rnd, rnd.randrange(1, 7))
            elif k == 7:
                w = ''.join(chr(rnd.randrange(0x61, 0x7B)) for _ in range(rnd.randrange(1, 12)))
            else:
                w = rnd.choice(words) + rnd.choice(['', '1', 'x', '\xe4', '-'])
            if rnd.random() < 0.3:
                w = ''.join(rnd.choice(STRIP) for _ in range(rnd.randrange(3))) + w + \
                    ''.join(rnd.choice(STRIP) for _ in range(rnd.randrange(3)))
            if rnd.random() < 0.05:
                w = w[:len(w) // 2] + rnd.choice(STRIP) + w[len(w) // 2:]
            toks.append(w)
        seps = [rnd.choice(SPACES) for _ in toks]
        texts.append(''.join(s + t for s, t in zip(seps, toks)) + rnd.choice(['', ' ', '\n']))
    return texts


def digest(s):
    if s is None or len(s) <= BIG: return s
    return {'sha256': hashlib.sha256(s.encode('utf-8')).hexdigest(), 'len': len(s)}


def write_fuzz_goldens():
    """Seeded fuzz cases: golden/text_kernel_fuzz.json, one case a line."""
    rnd = random.Random(SEED)
    wordlist = set(open(WORDLIST, encoding='utf-8').read().strip().split('\n'))
    caps = [None, 8, 100]
    byte_cases = [{'input_b64': base64.b64encode(d).decode(),
                   'fallback': [digest(extract_text_fallback(d, c)) for c in caps]}
                  for d in edge_byte_cases() + fuzz_byte_cases(rnd, 1500)]
    # the size gate: the unit repeated to exactly `size` bytes
    for size in (204800, 204801):
        for unit in (b'x ', b'ab\xe4 ', '\u20ac '.encode()):
            d = (unit * (size // len(unit) + 1))[:size]
            byte_cases.append({'fill_b64': base64.b64encode(unit).decode(), 'size': size,
                               'fallback': [digest(extract_text_fallback(d, c)) for c in caps]})
    quality_cases = [{'text': t, 'quality': compute_quality(t, wordlist)}
                     for t in quality_texts(rnd, wordlist, 5000)]

    def lines(cases):
        return ',\n'.join(json.dumps(c, ensure_ascii=True, sort_keys=True) for c in cases)
    with open(os.path.join(GOLDEN_DIR, 'text_kernel_fuzz.json'), 'w') as f:
        f.write('{"python": %s,\n"seed": %d,\n"caps": [null, 8, 100],\n"byte_cases": [\n%s\n],\n'
                '"quality_cases": [\n%s\n]}\n'
                % (json.dumps(sys.version), SEED, lines(byte_cases), lines(quality_cases)))
    print('fuzz cases:', len(byte_cases) * len(caps), len(quality_cases))


if __name__ == '__main__':
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--fuzz', action='store_true',
                    help='write the seeded fuzz goldens instead of the hand-picked ones')
    args = ap.parse_args()
    if args.fuzz: write_fuzz_goldens()
    else: write_goldens()
