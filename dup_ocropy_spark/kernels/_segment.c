/* Layout segmentation tokenizer: the per-tag loop of kernels/segment.py.
 *
 * tokenize(payloads, forced_boundaries) walks every payload once, over
 * its code points (PyUnicode_KIND/DATA: block extents are str offsets),
 * and fills the block columns of a batch directly:
 *
 *   row, start, end, link_chars  int64
 *   kind                         uint8 code into KIND_NAMES
 *   boiler                       uint8 (0/1)
 *   offsets, data                the visible text as an Arrow utf8 array
 *
 * each returned as a bytearray. The rules, in the words of the Python
 * patterns they implement:
 *
 *   tags      <!--.*?-->  |  <!\[CDATA\[.*?\]\]>  |
 *             <(/?)([a-zA-Z][a-zA-Z0-9-]*)((?:"[^"]*"|'[^']*'|[^>"'])*)(/?)>
 *             scanned left to right like re.finditer (re.S); a '<' where
 *             none of them matches is text.
 *   separators, inside each text piece (the piece taken as its own
 *             string, so ^ and $ anchor at its edges), under re.M:
 *             \f+ | \n[ \t]*\n(?:[ \t]*\n)* | ^[ \t]*[-=_*]{4,}[ \t]*$\n?
 *             (^ anchors after \n only, never after \f)
 *   rule-only blocks, dropped: ^[-=_* \t]*[-=_*]{4,}[-=_* \t]*$ on the
 *             str.strip()ped visible text.
 *
 * Entity decoding calls html.unescape on the pieces that contain '&'.
 * Whitespace is Py_UNICODE_ISSPACE, the set of str.strip and isspace.
 * A lone surrogate in visible text raises UnicodeEncodeError, as
 * encoding the str to UTF-8 does.
 */
#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

enum { T_BLOCK = 1, T_BOILER = 2, T_RAW = 4, T_ANCHOR = 8 };

/* Alphabetical. Block tags end the current block (line-separator
 * analogs); boilerplate containers mark their text as page furniture;
 * raw-text elements are opaque up to their matching close tag. */
static const struct { const char *name; int flags; } TAGS[] = {
    {"a", T_ANCHOR},
    {"address", T_BLOCK},
    {"article", T_BLOCK},
    {"aside", T_BLOCK | T_BOILER},
    {"blockquote", T_BLOCK},
    {"body", T_BLOCK},
    {"br", T_BLOCK},
    {"button", T_BLOCK | T_BOILER},
    {"dd", T_BLOCK},
    {"div", T_BLOCK},
    {"dl", T_BLOCK},
    {"dt", T_BLOCK},
    {"fieldset", T_BLOCK},
    {"figcaption", T_BLOCK},
    {"figure", T_BLOCK},
    {"footer", T_BLOCK | T_BOILER},
    {"form", T_BLOCK | T_BOILER},
    {"h1", T_BLOCK},
    {"h2", T_BLOCK},
    {"h3", T_BLOCK},
    {"h4", T_BLOCK},
    {"h5", T_BLOCK},
    {"h6", T_BLOCK},
    {"head", T_BLOCK | T_BOILER},
    {"header", T_BLOCK | T_BOILER},
    {"hr", T_BLOCK},
    {"html", T_BLOCK},
    {"iframe", T_BLOCK | T_BOILER},
    {"li", T_BLOCK},
    {"main", T_BLOCK},
    {"nav", T_BLOCK | T_BOILER},
    {"noscript", T_BLOCK | T_BOILER},
    {"ol", T_BLOCK},
    {"option", T_BLOCK | T_BOILER},
    {"p", T_BLOCK},
    {"pre", T_BLOCK},
    {"script", T_BLOCK | T_BOILER | T_RAW},
    {"section", T_BLOCK},
    {"select", T_BLOCK | T_BOILER},
    {"style", T_BLOCK | T_BOILER | T_RAW},
    {"table", T_BLOCK},
    {"tbody", T_BLOCK},
    {"td", T_BLOCK},
    {"textarea", T_BLOCK | T_BOILER},
    {"th", T_BLOCK},
    {"thead", T_BLOCK},
    {"title", T_BLOCK | T_BOILER},
    {"tr", T_BLOCK},
    {"ul", T_BLOCK},
};
#define N_TAGS ((int)(sizeof(TAGS) / sizeof(TAGS[0])))
#define MAX_TAG_LEN 10
/* TAGS[FIRST[c]] .. TAGS[FIRST[c + 1] - 1] start with 'a' + c */
static int FIRST[27];

static PyObject *unescape;  /* html.unescape */

/* ------------------------------------------------------------ buffers */

/* A growable column: a bytearray with spare capacity past `len`. */
typedef struct {
    PyObject *obj;
    char *p;
    Py_ssize_t len, cap;
} Buf;

static int buf_init(Buf *b, Py_ssize_t cap)
{
    b->obj = PyByteArray_FromStringAndSize(NULL, cap);
    if (b->obj == NULL)
        return -1;
    b->p = PyByteArray_AS_STRING(b->obj);
    b->len = 0;
    b->cap = cap;
    return 0;
}

static int buf_reserve(Buf *b, Py_ssize_t extra)
{
    if (b->len + extra <= b->cap)
        return 0;
    Py_ssize_t cap = b->cap * 2;
    if (cap < b->len + extra)
        cap = b->len + extra;
    if (PyByteArray_Resize(b->obj, cap) < 0)
        return -1;
    b->p = PyByteArray_AS_STRING(b->obj);
    b->cap = cap;
    return 0;
}

/* ------------------------------------------------------------- output */

enum { C_ROW, C_START, C_END, C_LINK, C_KIND, C_BOILER, C_OFFSETS, C_DATA, N_COLS };

typedef struct {
    Buf col[N_COLS];
    Py_ssize_t n;  /* blocks emitted */
} Out;

#define I64(o, c) ((int64_t *)(o)->col[c].p)

/* ---------------------------------------------------------- one payload */

typedef struct {
    PyObject *str;
    int ukind;
    const void *data;
    Py_ssize_t n;
    int64_t row;
    Out *out;
    /* the pending block: pieces appended since the last flush; their
     * visible text is out->col[C_DATA] from offsets[n] on */
    int pending;
    Py_ssize_t seg_start, seg_end;
    int64_t seg_link;
    int seg_boiler;
    uint8_t seg_kind;
} Ctx;

#define CH(c, i) PyUnicode_READ((c)->ukind, (c)->data, (i))

static inline int ascii_space(uint32_t ch)
{
    return ch == ' ' || (ch >= '\t' && ch <= '\r') || (ch >= 0x1c && ch <= 0x1f);
}

static inline int is_rule_char(uint32_t ch)
{
    return ch == '-' || ch == '=' || ch == '_' || ch == '*';
}

/* Raise the UnicodeEncodeError that str.encode('utf-8') raises on the
 * payload slice [a, b). */
static int surrogate_error(Ctx *c, Py_ssize_t a, Py_ssize_t b)
{
    PyObject *piece = PyUnicode_Substring(c->str, a, b);
    if (piece != NULL) {
        PyObject *enc = PyUnicode_AsUTF8String(piece);
        Py_DECREF(piece);
        if (enc != NULL) {
            Py_DECREF(enc);
            PyErr_SetString(PyExc_SystemError, "expected a surrogate");
        }
    }
    return -1;
}

/* Append the piece [a, b) of the payload, entity-decoded, to the pending
 * block's visible text; *decoded_len gets its length in code points. */
static int put_piece_text(Ctx *c, Py_ssize_t a, Py_ssize_t b, Py_ssize_t *decoded_len)
{
    Buf *d = &c->out->col[C_DATA];
    Py_ssize_t mark = d->len;
    if (buf_reserve(d, (b - a) * (c->ukind == PyUnicode_1BYTE_KIND ? 2 : 4)) < 0)
        return -1;
    unsigned char *w = (unsigned char *)d->p + d->len;
    int amp = 0;
    if (PyUnicode_IS_ASCII(c->str)) {
        const char *s = (const char *)c->data + a;
        memcpy(w, s, b - a);
        amp = memchr(s, '&', b - a) != NULL;
        w += b - a;
    }
    else {
        for (Py_ssize_t i = a; i < b; i++) {
            Py_UCS4 ch = CH(c, i);
            if (ch < 0x80) {
                amp |= ch == '&';
                *w++ = (unsigned char)ch;
            }
            else if (ch < 0x800) {
                *w++ = (unsigned char)(0xc0 | (ch >> 6));
                *w++ = (unsigned char)(0x80 | (ch & 0x3f));
            }
            else if (ch < 0x10000) {
                if (ch >= 0xd800 && ch <= 0xdfff)
                    return surrogate_error(c, a, b);
                *w++ = (unsigned char)(0xe0 | (ch >> 12));
                *w++ = (unsigned char)(0x80 | ((ch >> 6) & 0x3f));
                *w++ = (unsigned char)(0x80 | (ch & 0x3f));
            }
            else {
                *w++ = (unsigned char)(0xf0 | (ch >> 18));
                *w++ = (unsigned char)(0x80 | ((ch >> 12) & 0x3f));
                *w++ = (unsigned char)(0x80 | ((ch >> 6) & 0x3f));
                *w++ = (unsigned char)(0x80 | (ch & 0x3f));
            }
        }
    }
    if (!amp) {
        d->len = (char *)w - d->p;
        *decoded_len = b - a;
        return 0;
    }
    /* an entity may be in it: the piece is html.unescape(payload[a:b]) */
    d->len = mark;
    PyObject *piece = PyUnicode_Substring(c->str, a, b);
    if (piece == NULL)
        return -1;
    PyObject *dec = PyObject_CallOneArg(unescape, piece);
    Py_DECREF(piece);
    if (dec == NULL)
        return -1;
    if (!PyUnicode_Check(dec)) {
        Py_DECREF(dec);
        PyErr_SetString(PyExc_TypeError, "html.unescape returned a non-str");
        return -1;
    }
    Py_ssize_t size;
    const char *u8 = PyUnicode_AsUTF8AndSize(dec, &size);
    if (u8 == NULL || buf_reserve(d, size) < 0) {
        Py_DECREF(dec);
        return -1;
    }
    memcpy(d->p + d->len, u8, size);
    d->len += size;
    *decoded_len = PyUnicode_GET_LENGTH(dec);
    Py_DECREF(dec);
    return 0;
}

/* Add the piece [a, b) to the pending block (which it starts with kind
 * `kind` if there is none). */
static int put_piece(Ctx *c, Py_ssize_t a, Py_ssize_t b, int in_link, int boiler,
                     uint8_t kind)
{
    Py_ssize_t decoded_len;
    if (put_piece_text(c, a, b, &decoded_len) < 0)
        return -1;
    if (!c->pending) {
        c->pending = 1;
        c->seg_start = a;
        c->seg_link = 0;
        c->seg_boiler = 0;
        c->seg_kind = kind;
    }
    c->seg_end = b;
    if (in_link)
        c->seg_link += decoded_len;
    c->seg_boiler |= boiler;
    return 0;
}

/* The code point of the valid UTF-8 sequence at p. */
static Py_UCS4 utf8_at(const unsigned char *p)
{
    if (p[0] < 0xe0)
        return ((Py_UCS4)(p[0] & 0x1f) << 6) | (p[1] & 0x3f);
    if (p[0] < 0xf0)
        return ((Py_UCS4)(p[0] & 0x0f) << 12) | ((Py_UCS4)(p[1] & 0x3f) << 6) | (p[2] & 0x3f);
    return ((Py_UCS4)(p[0] & 0x07) << 18) | ((Py_UCS4)(p[1] & 0x3f) << 12)
           | ((Py_UCS4)(p[2] & 0x3f) << 6) | (p[3] & 0x3f);
}

static inline int utf8_space(const unsigned char *p)
{
    return *p < 0x80 ? ascii_space(*p) : Py_UNICODE_ISSPACE(utf8_at(p));
}

/* Is the stripped visible text [p, q) (first and last chars not
 * whitespace) a rule line: only -=_* blanks and tabs, with a run of 4+
 * rule chars? */
static int rule_only(const unsigned char *p, const unsigned char *q)
{
    int run = 0, longest = 0;
    for (; p < q; p++) {
        if (is_rule_char(*p)) {
            if (++run > longest)
                longest = run;
        }
        else if (*p == ' ' || *p == '\t')
            run = 0;
        else
            return 0;
    }
    return longest >= 4;
}

/* Close the pending block: emit it, or drop it if its visible text is
 * blank or a rule line (separators, not blocks). */
static int flush(Ctx *c)
{
    if (!c->pending)
        return 0;
    c->pending = 0;
    Out *o = c->out;
    Buf *d = &o->col[C_DATA];
    Py_ssize_t vstart = ((int32_t *)o->col[C_OFFSETS].p)[o->n];
    const unsigned char *p = (const unsigned char *)d->p + vstart;
    const unsigned char *q = (const unsigned char *)d->p + d->len;
    while (p < q && utf8_space(p))
        p += *p < 0x80 ? 1 : *p < 0xe0 ? 2 : *p < 0xf0 ? 3 : 4;
    if (p < q) {
        for (;;) {  /* the last char is not whitespace: p < q holds */
            const unsigned char *r = q - 1;
            while (*r >= 0x80 && *r < 0xc0)
                r--;
            if (!utf8_space(r))
                break;
            q = r;
        }
    }
    if (p == q || (is_rule_char(*p) && rule_only(p, q))) {
        d->len = vstart;
        return 0;
    }
    if (d->len > INT32_MAX) {
        PyErr_SetString(PyExc_OverflowError,
                        "visible text of a batch exceeds 2 GiB; segment smaller batches");
        return -1;
    }
    /* tight raw extent: the payload slice with str.strip()'s whitespace
     * trimmed (content at the payload start/end keeps 0 / len) */
    Py_ssize_t s = c->seg_start, e = c->seg_end, a = s, b = e;
    while (a < e && Py_UNICODE_ISSPACE(CH(c, a)))
        a++;
    if (a < e)
        while (Py_UNICODE_ISSPACE(CH(c, b - 1)))
            b--;
    for (int k = 0; k < C_DATA; k++)
        if (buf_reserve(&o->col[k], 8) < 0)
            return -1;
    Py_ssize_t i = o->n;
    I64(o, C_ROW)[i] = c->row;
    I64(o, C_START)[i] = a;
    I64(o, C_END)[i] = b;
    I64(o, C_LINK)[i] = c->seg_link;
    ((uint8_t *)o->col[C_KIND].p)[i] = c->seg_kind;
    ((uint8_t *)o->col[C_BOILER].p)[i] = (uint8_t)c->seg_boiler;
    ((int32_t *)o->col[C_OFFSETS].p)[i + 1] = (int32_t)d->len;
    o->n = i + 1;
    o->col[C_ROW].len = o->col[C_START].len = o->col[C_END].len
        = o->col[C_LINK].len = 8 * o->n;
    o->col[C_KIND].len = o->col[C_BOILER].len = o->n;
    o->col[C_OFFSETS].len = 4 * (o->n + 1);
    return 0;
}

/* The first separator in the piece [base, end) at or after j, as
 * [*ms, *me); 0 if there is none. */
static int next_sep(Ctx *c, Py_ssize_t base, Py_ssize_t end, Py_ssize_t j,
                    Py_ssize_t *ms, Py_ssize_t *me)
{
    for (Py_ssize_t k = j; k < end; k++) {
        Py_UCS4 ch = CH(c, k);
        if (ch == '\f') {  /* \f+ */
            Py_ssize_t r = k + 1;
            while (r < end && CH(c, r) == '\f')
                r++;
            *ms = k;
            *me = r;
            return 1;
        }
        if (ch == '\n') {  /* \n[ \t]*\n(?:[ \t]*\n)* */
            Py_ssize_t r = k + 1, last = -1;
            for (;;) {
                while (r < end && (CH(c, r) == ' ' || CH(c, r) == '\t'))
                    r++;
                if (r == end || CH(c, r) != '\n')
                    break;
                last = ++r;
            }
            if (last >= 0) {
                *ms = k;
                *me = last;
                return 1;
            }
            continue;  /* ^ cannot start a rule line at a \n */
        }
        if ((ch == ' ' || ch == '\t' || is_rule_char(ch))
                && (k == base || CH(c, k - 1) == '\n')) {
            /* ^[ \t]*[-=_*]{4,}[ \t]*$\n? */
            Py_ssize_t r = k, rules;
            while (r < end && (CH(c, r) == ' ' || CH(c, r) == '\t'))
                r++;
            for (rules = 0; r < end && is_rule_char(CH(c, r)); rules++)
                r++;
            if (rules < 4)
                continue;
            while (r < end && (CH(c, r) == ' ' || CH(c, r) == '\t'))
                r++;
            if (r < end && CH(c, r) != '\n')
                continue;
            *ms = k;
            *me = r < end ? r + 1 : r;
            return 1;
        }
    }
    return 0;
}

/* Add the text piece [pos, end) to the pending block, cut at its
 * separators; each separator flushes. */
static int put_text(Ctx *c, Py_ssize_t pos, Py_ssize_t end, int in_link, int boiler,
                    uint8_t kind)
{
    Py_ssize_t last = pos, ms, me;
    while (next_sep(c, pos, end, last, &ms, &me)) {
        if (ms > last && put_piece(c, last, ms, in_link, boiler, kind) < 0)
            return -1;
        if (flush(c) < 0)
            return -1;
        last = me;
    }
    if (last < end)
        return put_piece(c, last, end, in_link, boiler, kind);
    return 0;
}

/* A tag match of the grammar at the top of this file. */
typedef struct {
    Py_ssize_t start, end;
    int named;    /* the third alternative: a start or end tag */
    int closing;
    int tag;      /* index into TAGS, -1 for any other name */
    int selfclose;
} Tag;

/* Where a search for a terminator or a closing quote failed: no later
 * search for it can succeed. */
typedef struct {
    Py_ssize_t no_comment_end, no_cdata_end, no_quote[2];
} Misses;

static Py_ssize_t find_str(Ctx *c, Py_ssize_t from, const char *s, Py_ssize_t *miss)
{
    Py_ssize_t len = (Py_ssize_t)strlen(s);
    if (from >= *miss)
        return -1;
    for (Py_ssize_t k = from; k + len <= c->n; k++) {
        Py_ssize_t i = 0;
        while (i < len && CH(c, k + i) == (Py_UCS4)s[i])
            i++;
        if (i == len)
            return k;
    }
    *miss = from;
    return -1;
}

static int lookup_tag(Ctx *c, Py_ssize_t a, Py_ssize_t b)
{
    char name[MAX_TAG_LEN + 1];
    if (b - a > MAX_TAG_LEN)
        return -1;
    for (Py_ssize_t i = a; i < b; i++) {
        Py_UCS4 ch = CH(c, i);
        name[i - a] = (char)(ch >= 'A' && ch <= 'Z' ? ch + 32 : ch);
    }
    name[b - a] = '\0';
    if (name[0] < 'a' || name[0] > 'z')
        return -1;
    for (int k = FIRST[name[0] - 'a']; k < FIRST[name[0] - 'a' + 1]; k++)
        if (strcmp(TAGS[k].name, name) == 0)
            return k;
    return -1;
}

static inline int ascii_alpha(Py_UCS4 ch)
{
    return (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z');
}

/* The tag match at '<' position j, if one starts there. */
static int match_tag(Ctx *c, Py_ssize_t j, Misses *m, Tag *t)
{
    Py_ssize_t n = c->n, r, k;
    if (j + 1 >= n)
        return 0;
    Py_UCS4 c1 = CH(c, j + 1);
    t->start = j;
    t->named = t->closing = t->selfclose = 0;
    t->tag = -1;
    if (c1 == '!') {
        if (j + 3 < n && CH(c, j + 2) == '-' && CH(c, j + 3) == '-') {
            if ((k = find_str(c, j + 4, "-->", &m->no_comment_end)) < 0)
                return 0;
            t->end = k + 3;
            return 1;
        }
        for (k = 0; k < 7; k++)
            if (j + 2 + k >= n || CH(c, j + 2 + k) != (Py_UCS4)"[CDATA["[k])
                return 0;
        if ((k = find_str(c, j + 9, "]]>", &m->no_cdata_end)) < 0)
            return 0;
        t->end = k + 3;
        return 1;
    }
    r = j + 1;
    if (c1 == '/') {
        t->closing = 1;
        r++;
    }
    if (r >= n || !ascii_alpha(CH(c, r)))
        return 0;
    Py_ssize_t name_start = r++;
    while (r < n) {
        Py_UCS4 ch = CH(c, r);
        if (!(ascii_alpha(ch) || (ch >= '0' && ch <= '9') || ch == '-'))
            break;
        r++;
    }
    Py_ssize_t name_end = r;
    /* attributes: quoted values may hold '>'; an unclosed quote fails */
    for (;;) {
        if (r >= n)
            return 0;
        Py_UCS4 ch = CH(c, r);
        if (ch == '>')
            break;
        if (ch == '"' || ch == '\'') {
            Py_ssize_t *miss = &m->no_quote[ch == '\''];
            if (r + 1 >= *miss)
                return 0;
            for (k = r + 1; k < n && CH(c, k) != ch; k++)
                ;
            if (k == n) {
                *miss = r + 1;
                return 0;
            }
            r = k + 1;
        }
        else
            r++;
    }
    t->end = r + 1;
    t->named = 1;
    t->tag = lookup_tag(c, name_start, name_end);
    /* The attribute group is greedy, so it takes any '/' before the
     * '>' and the (/?) group is always empty. A trailing '/' closes the
     * tag when it is the whole attribute text or follows a quote or
     * whitespace; one that ends an unquoted value ('<a href=x.com/>') is
     * part of the value (HTML5). */
    if (r > name_end && CH(c, r - 1) == '/') {
        if (r - 1 == name_end)
            t->selfclose = 1;
        else {
            Py_UCS4 prev = CH(c, r - 2);
            t->selfclose = prev == '"' || prev == '\'' || prev == ' ' || prev == '\t'
                           || prev == '\n' || prev == '\r' || prev == '\f';
        }
    }
    return 1;
}

/* The next tag match at or after j; the zero-width end match at the
 * payload end if there is none. */
static void next_tag(Ctx *c, Py_ssize_t j, Misses *m, Tag *t)
{
    for (; j < c->n; j++)
        if (CH(c, j) == '<' && match_tag(c, j, m, t))
            return;
    t->start = t->end = c->n;
    t->named = t->closing = t->selfclose = 0;
    t->tag = -1;
}

static int cmp_i64(const void *a, const void *b)
{
    int64_t x = *(const int64_t *)a, y = *(const int64_t *)b;
    return (x > y) - (x < y);
}

/* The forced boundaries of one payload, sorted and deduplicated, with an
 * INT64_MAX sentinel; *out is malloc'ed. */
static int read_bounds(PyObject *forced, int64_t **out)
{
    Py_ssize_t m = 0;
    PyObject *seq = NULL;
    if (forced != Py_None) {
        seq = PySequence_Tuple(forced);
        if (seq == NULL)
            return -1;
        m = PyTuple_GET_SIZE(seq);
    }
    int64_t *b = PyMem_Malloc((m + 1) * sizeof(int64_t));
    if (b == NULL) {
        Py_XDECREF(seq);
        PyErr_NoMemory();
        return -1;
    }
    for (Py_ssize_t i = 0; i < m; i++) {
        int overflow;
        PyObject *v = PyNumber_Index(PyTuple_GET_ITEM(seq, i));
        long long x = v == NULL ? -1 : PyLong_AsLongLongAndOverflow(v, &overflow);
        Py_XDECREF(v);
        if (v == NULL || (x == -1 && PyErr_Occurred())) {
            Py_DECREF(seq);
            PyMem_Free(b);
            return -1;
        }
        /* past either end of int64 a boundary applies like one at the end */
        b[i] = overflow > 0 ? INT64_MAX : overflow < 0 ? INT64_MIN : x;
    }
    Py_XDECREF(seq);
    qsort(b, m, sizeof(int64_t), cmp_i64);
    Py_ssize_t u = 0;
    for (Py_ssize_t i = 0; i < m; i++)
        if (u == 0 || b[i] != b[u - 1])
            b[u++] = b[i];
    b[u] = INT64_MAX;
    *out = b;
    return 0;
}

/* Tokenize one payload into blocks. Visible runs between tags add to
 * the pending block; block tags, separators inside a run and forced
 * boundaries flush it. */
static int segment_one(Ctx *c, const int64_t *bounds)
{
    Py_ssize_t n = c->n, pos = 0;
    const int64_t *nxt = bounds;  /* next forced boundary not yet applied */
    int a_depth = 0, raw_until = -1;
    uint8_t kind = 0;
    /* open boilerplate containers, as TAGS indexes */
    uint8_t stack_small[64], *stack = stack_small;
    Py_ssize_t depth = 0, stack_cap = 64;
    Misses m = {PY_SSIZE_T_MAX, PY_SSIZE_T_MAX, {PY_SSIZE_T_MAX, PY_SSIZE_T_MAX}};
    Tag t;
    int rc = -1;

    for (;;) {
        next_tag(c, pos, &m, &t);
        if (raw_until >= 0 && t.start < n) {
            /* inside a raw-text element only its close tag ends it (an
             * unclosed one still yields its trailing text) */
            if (t.named && t.closing && t.tag == raw_until) {
                for (Py_ssize_t k = 0; k < depth; k++)
                    if (stack[k] == raw_until) {
                        memmove(stack + k, stack + k + 1, depth - k - 1);
                        depth--;
                        break;
                    }
                raw_until = -1;
            }
            pos = t.end;
            continue;
        }
        if (t.start > pos) {
            /* mask join: a forced boundary at the run start or anywhere
             * in the markup gap since the previous run flushes */
            if (*nxt <= pos) {
                if (flush(c) < 0)
                    goto done;
                while (*nxt <= pos)
                    nxt++;
            }
            int in_link = a_depth > 0, boiler = depth > 0;
            for (;;) {
                /* interior forced boundaries cut the run into pieces,
                 * each separator-split as its own string */
                Py_ssize_t e = *nxt < t.start ? (Py_ssize_t)*nxt : t.start;
                if (put_text(c, pos, e, in_link, boiler, kind) < 0)
                    goto done;
                if (e == t.start)
                    break;
                if (flush(c) < 0)
                    goto done;
                pos = e;
                nxt++;
            }
        }
        if (t.named && t.tag >= 0) {
            int flags = TAGS[t.tag].flags;
            if (flags & T_BLOCK) {
                if (flush(c) < 0)
                    goto done;
                kind = t.closing ? 0 : (uint8_t)(t.tag + 1);
            }
            if (flags & T_ANCHOR) {
                /* a self-closing <a/> has no content: counted open, it
                 * would make every later char a link char */
                if (!t.selfclose)
                    a_depth = !t.closing ? a_depth + 1 : a_depth > 0 ? a_depth - 1 : 0;
            }
            else if ((flags & T_BOILER) && t.closing) {
                /* pop the innermost matching open (tolerates bad nesting) */
                for (Py_ssize_t k = depth - 1; k >= 0; k--)
                    if (stack[k] == t.tag) {
                        depth = k;
                        break;
                    }
            }
            else if ((flags & T_BOILER) && !t.selfclose) {
                if (depth == stack_cap) {
                    uint8_t *grown = PyMem_Malloc(2 * stack_cap);
                    if (grown == NULL) {
                        PyErr_NoMemory();
                        goto done;
                    }
                    memcpy(grown, stack, depth);
                    if (stack != stack_small)
                        PyMem_Free(stack);
                    stack = grown;
                    stack_cap *= 2;
                }
                stack[depth++] = (uint8_t)t.tag;
                if (flags & T_RAW)
                    raw_until = t.tag;
            }
        }
        pos = t.end;
        if (t.start == n)
            break;
    }
    rc = flush(c);
done:
    if (stack != stack_small)
        PyMem_Free(stack);
    return rc;
}

static PyObject *tokenize(PyObject *Py_UNUSED(self), PyObject *args)
{
    PyObject *payloads, *forced = Py_None;
    if (!PyArg_ParseTuple(args, "O|O:tokenize", &payloads, &forced))
        return NULL;
    /* tuples: items stay referenced while html.unescape runs */
    PyObject *pseq = PySequence_Tuple(payloads);
    if (pseq == NULL)
        return NULL;
    Py_ssize_t rows = PyTuple_GET_SIZE(pseq);
    PyObject *fseq = NULL, *result = NULL;
    Out o = {.n = 0};
    if (forced != Py_None) {
        fseq = PySequence_Tuple(forced);
        if (fseq == NULL)
            goto fail;
        if (PyTuple_GET_SIZE(fseq) != rows) {
            PyErr_SetString(PyExc_ValueError,
                            "forced_boundaries needs one entry per payload");
            goto fail;
        }
    }
    static const int width[N_COLS] = {8, 8, 8, 8, 1, 1, 4, 1};
    Py_ssize_t guess = 8 * rows + 16;  /* blocks; grows as needed */
    for (int k = 0; k < N_COLS; k++)
        if (buf_init(&o.col[k], width[k] * guess + (k == C_DATA ? 64 * guess : 0)) < 0)
            goto fail;
    ((int32_t *)o.col[C_OFFSETS].p)[0] = 0;
    o.col[C_OFFSETS].len = 4;

    for (Py_ssize_t i = 0; i < rows; i++) {
        PyObject *p = PyTuple_GET_ITEM(pseq, i);
        if (p == Py_None)
            continue;
        if (!PyUnicode_Check(p)) {
            PyErr_Format(PyExc_TypeError, "payload %zd is %.80s, not str", i,
                         Py_TYPE(p)->tp_name);
            goto fail;
        }
        if (PyUnicode_READY(p) < 0)
            goto fail;
        if (PyUnicode_GET_LENGTH(p) == 0)
            continue;
        int64_t *bounds;
        if (read_bounds(fseq ? PyTuple_GET_ITEM(fseq, i) : Py_None, &bounds) < 0)
            goto fail;
        Ctx c = {.str = p, .ukind = PyUnicode_KIND(p), .data = PyUnicode_DATA(p),
                 .n = PyUnicode_GET_LENGTH(p), .row = i, .out = &o, .pending = 0};
        int rc = segment_one(&c, bounds);
        PyMem_Free(bounds);
        if (rc < 0)
            goto fail;
    }
    for (int k = 0; k < N_COLS; k++)
        if (PyByteArray_Resize(o.col[k].obj, o.col[k].len) < 0)
            goto fail;
    result = PyTuple_New(N_COLS);
    if (result != NULL)
        for (int k = 0; k < N_COLS; k++) {
            PyTuple_SET_ITEM(result, k, o.col[k].obj);
            o.col[k].obj = NULL;
        }
fail:
    for (int k = 0; k < N_COLS; k++)
        Py_XDECREF(o.col[k].obj);
    Py_DECREF(pseq);
    Py_XDECREF(fseq);
    return result;
}

static PyMethodDef methods[] = {
    {"tokenize", tokenize, METH_VARARGS,
     "tokenize(payloads, forced_boundaries=None) -> (row, start, end, link_chars,"
     " kind, boiler, offsets, data) bytearrays: the blocks of every payload"},
    {NULL, NULL, 0, NULL},
};

static struct PyModuleDef module = {
    PyModuleDef_HEAD_INIT, .m_name = "_segment",
    .m_doc = "Layout segmentation tokenizer.", .m_size = -1, .m_methods = methods,
};

PyMODINIT_FUNC PyInit__segment(void)
{
    for (int k = 0, c = 0; c <= 26; c++) {
        while (k < N_TAGS && TAGS[k].name[0] < 'a' + c)
            k++;
        FIRST[c] = k;
    }
    PyObject *html = PyImport_ImportModule("html");
    if (html == NULL)
        return NULL;
    unescape = PyObject_GetAttrString(html, "unescape");
    Py_DECREF(html);
    if (unescape == NULL)
        return NULL;
    PyObject *m = PyModule_Create(&module);
    if (m == NULL)
        return NULL;
    PyObject *names = PyTuple_New(N_TAGS + 1);
    for (int k = 0; names != NULL && k <= N_TAGS; k++) {
        PyObject *name = PyUnicode_FromString(k == 0 ? "text" : TAGS[k - 1].name);
        if (name == NULL)
            Py_CLEAR(names);
        else
            PyTuple_SET_ITEM(names, k, name);
    }
    if (names == NULL || PyModule_AddObject(m, "KIND_NAMES", names) < 0) {
        Py_XDECREF(names);
        Py_DECREF(m);
        return NULL;
    }
    return m;
}
