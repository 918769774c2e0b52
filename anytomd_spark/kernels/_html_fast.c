/* _html_fast.c — native walker for html_conv.convert_html.
 *
 * A byte-level twin of the stdlib html.parser walk (_EdgeParser +
 * _Walker) for the COMMON subset of HTML, at any document size: text
 * with character references, simple start tags with whitespace-separated
 * attributes, end tags, self-closing tags, comment / doctype / PI
 * swallowing, raw-text content for script/style/title/textarea, and
 * html.parser's reading of unterminated constructs.
 *
 * Character references are decoded exactly where the stdlib walk
 * calls html.unescape: text runs, the attribute values the handlers
 * read (href, alt, src, type) and title/textarea content — never
 * script/style.  The whole html.unescape grammar decodes: numeric
 * references with or without ';' (remapped, dropped or U+FFFD where
 * html.unescape does so, and of any length, as html5ever reads them
 * where int() refuses the digits), named references matched exactly against
 * html.entities.html5 and then by longest prefix, and a literal '&'
 * where nothing matches.  This file does not compile alone:
 * _html_native._c_source() prepends the tables the decode reads
 * (ENTITY_NAME / ENTITY_VALUE, CP_REMAP, CP_DROPPED),
 * generated from the running interpreter's html module.
 *
 * Anything outside the verified envelope makes the walker BAIL
 * (return code 2) and the caller falls back to the stdlib parser walk,
 * so this file never has to be right about the long tail — only about
 * the narrow grammar it accepts.  Bails include: non-ASCII bytes
 * inside tag markup outside tag names and quoted attribute values
 * (Python's \s is Unicode-aware there), '/' used as an attribute
 * separator, an attribute without a separator, an unclosed attribute
 * quote, tag names containing '\v' / '\0' / U+212A or longer than 23
 * bytes, end-tag names html.parser reads past [-.a-zA-Z0-9:_], marked
 * sections ('<![', which _EdgeParser reads by keyword), and
 * pathological stack or list depth.
 *
 * Byte-parity with the stdlib parser walk over fixtures, the chaos fuzz
 * corpus, the full bench corpus and generated reference-bearing
 * documents is locked by tests/test_html_native.py.
 */

#include <stdint.h>
#include <stdio.h>
#include <stdlib.h>
#include <string.h>

/* ------------------------------------------------------------------ */
/* growable byte buffer                                               */

typedef struct {
    char *d;
    size_t len, cap;
} buf_t;

static int buf_init(buf_t *b, size_t cap) {
    b->d = (char *)malloc(cap ? cap : 16);
    b->len = 0;
    b->cap = cap ? cap : 16;
    return b->d != NULL;
}

static int buf_reserve(buf_t *b, size_t extra) {
    if (b->len + extra <= b->cap) return 1;
    size_t ncap = b->cap * 2 + extra;
    char *nd = (char *)realloc(b->d, ncap);
    if (!nd) return 0;
    b->d = nd;
    b->cap = ncap;
    return 1;
}

static int buf_push(buf_t *b, const char *s, size_t n) {
    if (n == 0) return 1; /* b->d may still be NULL (w->ref) */
    if (!buf_reserve(b, n)) return 0;
    memcpy(b->d + b->len, s, n);
    b->len += n;
    return 1;
}

static int buf_pushc(buf_t *b, char c) { return buf_push(b, &c, 1); }

/* ------------------------------------------------------------------ */
/* Python str.isspace() codepoints (for str.strip parity)             */

static int py_isspace_cp(uint32_t cp) {
    if (cp <= 0x20)
        return (cp >= 0x09 && cp <= 0x0d) || (cp >= 0x1c && cp <= 0x1f) ||
               cp == 0x20;
    switch (cp) {
    case 0x85:
    case 0xa0:
    case 0x1680:
    case 0x2028:
    case 0x2029:
    case 0x202f:
    case 0x205f:
    case 0x3000:
        return 1;
    default:
        return cp >= 0x2000 && cp <= 0x200a;
    }
}

/* decode one UTF-8 sequence at p (n bytes left); returns codepoint,
 * stores length in *adv.  Invalid sequences return the raw byte (the
 * caller only uses this for whitespace checks, and the Python side
 * decoded the input as valid UTF-8, so invalid can't occur). */
static uint32_t u8_next(const unsigned char *p, size_t n, int *adv) {
    unsigned char c = p[0];
    if (c < 0x80) { *adv = 1; return c; }
    if ((c & 0xe0) == 0xc0 && n >= 2) {
        *adv = 2;
        return ((uint32_t)(c & 0x1f) << 6) | (p[1] & 0x3f);
    }
    if ((c & 0xf0) == 0xe0 && n >= 3) {
        *adv = 3;
        return ((uint32_t)(c & 0x0f) << 12) | ((uint32_t)(p[1] & 0x3f) << 6) |
               (p[2] & 0x3f);
    }
    if ((c & 0xf8) == 0xf0 && n >= 4) {
        *adv = 4;
        return ((uint32_t)(c & 0x07) << 18) | ((uint32_t)(p[1] & 0x3f) << 12) |
               ((uint32_t)(p[2] & 0x3f) << 6) | (p[3] & 0x3f);
    }
    *adv = 1;
    return c;
}

/* decode one UTF-8 sequence ENDING at p[n-1]; stores length in *adv */
static uint32_t u8_prev(const unsigned char *p, size_t n, int *adv) {
    size_t i = n - 1;
    int back = 0;
    while (i > 0 && (p[i] & 0xc0) == 0x80 && back < 3) { i--; back++; }
    int a;
    uint32_t cp = u8_next(p + i, n - i, &a);
    if ((size_t)a == n - i) { *adv = a; return cp; }
    *adv = 1;
    return p[n - 1];
}

/* Python str.strip(): [start, end) of s[0:n] with unicode whitespace
 * stripped from both ends */
static void u_strip(const char *s, size_t n, size_t *start, size_t *end) {
    const unsigned char *p = (const unsigned char *)s;
    size_t a = 0, b = n;
    while (a < b) {
        int adv;
        uint32_t cp = u8_next(p + a, b - a, &adv);
        if (!py_isspace_cp(cp)) break;
        a += adv;
    }
    while (b > a) {
        int adv;
        uint32_t cp = u8_prev(p + a, b - a, &adv);
        if (!py_isspace_cp(cp)) break;
        b -= adv;
    }
    *start = a;
    *end = b;
}

/* ASCII whitespace for collapse (space \t \n \r \x0c — NO \v) */
static int is_collapse_ws(unsigned char c) {
    return c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == 0x0c;
}

/* ASCII bytes Python's \s matches inside tag markup ([ \t\n\r\f\v] and
 * \x1c-\x1f); non-ASCII bails upstream */
static int is_tag_ws(unsigned char c) {
    return c < 0x80 && py_isspace_cp(c);
}

/* past Python's \s* (Unicode-aware) at s[i] */
static size_t skip_py_ws(const unsigned char *s, size_t n, size_t i) {
    while (i < n) {
        int adv;
        if (!py_isspace_cp(u8_next(s + i, n - i, &adv))) break;
        i += (size_t)adv;
    }
    return i;
}

static char lower_ascii(char c) {
    return (c >= 'A' && c <= 'Z') ? (char)(c + 32) : c;
}

/* ------------------------------------------------------------------ */
/* tag ids + property flags                                           */

enum {
    T_UNKNOWN = 0,
    T_H1, T_H2, T_H3, T_H4, T_H5, T_H6,
    T_P, T_A, T_IMG, T_STRONG, T_B, T_EM, T_I, T_CODE, T_PRE,
    T_UL, T_OL, T_LI, T_TABLE, T_THEAD, T_TBODY, T_TR, T_TH, T_TD,
    T_BLOCKQUOTE, T_HR, T_BR, T_INPUT,
    T_TITLE, T_SCRIPT, T_STYLE, T_HEAD, T_TEXTAREA,
    T_AREA, T_BASE, T_COL, T_EMBED, T_LINK, T_META, T_PARAM, T_SOURCE,
    T_TRACK, T_WBR,
    T_DT, T_DD, T_TFOOT, T_DL,
    T_ADDRESS, T_ARTICLE, T_ASIDE, T_DETAILS, T_DIV, T_FIELDSET,
    T_FIGCAPTION, T_FIGURE, T_FOOTER, T_FORM, T_HEADER, T_HGROUP,
    T_MAIN, T_MENU, T_NAV, T_SECTION,
    T_U, T_S, T_SPAN, T_SMALL, T_BIG, T_FONT, T_SUB, T_SUP, T_MARK,
    T_ABBR,
    T_MAX
};

#define F_VOID 1
#define F_IMPLIED 2
#define F_PCLOSER 4
#define F_CAPSKIP 8
#define F_P 16
#define F_SKIPTAG 32
#define F_FORMATTING 64
#define F_RAWTEXT 128

typedef struct {
    const char *name;
    int id;
    int flags;
} taginfo_t;

static const taginfo_t TAGS[] = {
    {"h1", T_H1, F_PCLOSER | F_CAPSKIP}, {"h2", T_H2, F_PCLOSER},
    {"h3", T_H3, F_PCLOSER}, {"h4", T_H4, F_PCLOSER},
    {"h5", T_H5, F_PCLOSER}, {"h6", T_H6, F_PCLOSER},
    {"p", T_P, F_PCLOSER | F_P}, {"a", T_A, F_FORMATTING},
    {"img", T_IMG, F_VOID}, {"strong", T_STRONG, F_FORMATTING},
    {"b", T_B, F_FORMATTING}, {"em", T_EM, F_FORMATTING},
    {"i", T_I, F_FORMATTING}, {"code", T_CODE, F_FORMATTING},
    {"pre", T_PRE, F_PCLOSER},
    {"ul", T_UL, F_PCLOSER}, {"ol", T_OL, F_PCLOSER},
    {"li", T_LI, F_IMPLIED},
    {"table", T_TABLE, F_PCLOSER}, {"thead", T_THEAD, F_IMPLIED},
    {"tbody", T_TBODY, F_IMPLIED}, {"tr", T_TR, F_IMPLIED},
    {"th", T_TH, F_IMPLIED}, {"td", T_TD, F_IMPLIED},
    {"blockquote", T_BLOCKQUOTE, F_PCLOSER},
    {"hr", T_HR, F_VOID | F_PCLOSER}, {"br", T_BR, F_VOID},
    {"input", T_INPUT, F_VOID},
    {"title", T_TITLE, F_CAPSKIP | F_RAWTEXT},
    {"script", T_SCRIPT, F_CAPSKIP | F_SKIPTAG | F_RAWTEXT},
    {"style", T_STYLE, F_CAPSKIP | F_SKIPTAG | F_RAWTEXT},
    {"head", T_HEAD, F_CAPSKIP | F_SKIPTAG},
    {"textarea", T_TEXTAREA, F_RAWTEXT},
    {"area", T_AREA, F_VOID}, {"base", T_BASE, F_VOID},
    {"col", T_COL, F_VOID}, {"embed", T_EMBED, F_VOID},
    {"link", T_LINK, F_VOID}, {"meta", T_META, F_VOID},
    {"param", T_PARAM, F_VOID}, {"source", T_SOURCE, F_VOID},
    {"track", T_TRACK, F_VOID}, {"wbr", T_WBR, F_VOID},
    {"dt", T_DT, F_IMPLIED}, {"dd", T_DD, F_IMPLIED},
    {"tfoot", T_TFOOT, F_IMPLIED}, {"dl", T_DL, F_PCLOSER},
    {"address", T_ADDRESS, F_PCLOSER}, {"article", T_ARTICLE, F_PCLOSER},
    {"aside", T_ASIDE, F_PCLOSER}, {"details", T_DETAILS, F_PCLOSER},
    {"div", T_DIV, F_PCLOSER}, {"fieldset", T_FIELDSET, F_PCLOSER},
    {"figcaption", T_FIGCAPTION, F_PCLOSER},
    {"figure", T_FIGURE, F_PCLOSER}, {"footer", T_FOOTER, F_PCLOSER},
    {"form", T_FORM, F_PCLOSER}, {"header", T_HEADER, F_PCLOSER},
    {"hgroup", T_HGROUP, F_PCLOSER}, {"main", T_MAIN, F_PCLOSER},
    {"menu", T_MENU, F_PCLOSER}, {"nav", T_NAV, F_PCLOSER},
    {"section", T_SECTION, F_PCLOSER},
    {"u", T_U, F_FORMATTING}, {"s", T_S, F_FORMATTING},
    {"span", T_SPAN, F_FORMATTING}, {"small", T_SMALL, F_FORMATTING},
    {"big", T_BIG, F_FORMATTING}, {"font", T_FONT, F_FORMATTING},
    {"sub", T_SUB, F_FORMATTING}, {"sup", T_SUP, F_FORMATTING},
    {"mark", T_MARK, F_FORMATTING}, {"abbr", T_ABBR, F_FORMATTING},
    {NULL, 0, 0},
};

static int tag_flags_by_id[T_MAX];

static void init_flags(void) {
    static int done = 0;
    if (done) return;
    for (const taginfo_t *t = TAGS; t->name; t++)
        tag_flags_by_id[t->id] = t->flags;
    done = 1;
}

/* lookup by lowered name; returns id or T_UNKNOWN */
static int tag_lookup(const char *name, size_t n) {
    for (const taginfo_t *t = TAGS; t->name; t++) {
        if (strlen(t->name) == n && memcmp(t->name, name, n) == 0)
            return t->id;
    }
    return T_UNKNOWN;
}

/* ------------------------------------------------------------------ */
/* walker state                                                        */

#define MAX_STACK 256
#define MAX_TAGNAME 23
#define MAX_LISTS 64

typedef struct {
    int id;
    char name[MAX_TAGNAME + 1];
    unsigned char nlen;
} stackent_t;

typedef struct {
    buf_t cells;       /* cell strings, '\0'-separated */
    size_t *offs;      /* offset of each cell in .cells */
    size_t n, cap;
} row_t;

typedef struct {
    buf_t out, plain;
    int out_tn, plain_tn; /* trailing newline counters */
    stackent_t stack[MAX_STACK];
    int sp;
    int list_ordered[MAX_LISTS];
    int list_count[MAX_LISTS];
    int nlists;
    int in_pre;
    int skip_depth;
    int bq;
    int p_open;
    /* pending heading/link */
    int ph_active, ph_level;
    size_t ph_start, ph_plain_start;
    int pl_active;
    buf_t pl_href;
    size_t pl_start;
    /* table */
    int tbl_active, tbl_in_header, tbl_in_cell;
    buf_t tbl_cell;             /* current cell raw text */
    row_t tbl_headers;          /* header cells */
    row_t *tbl_rows;            /* data rows */
    size_t tbl_nrows, tbl_rowcap;
    row_t tbl_currow;
    /* title / h1 capture */
    int ti_active, h1_active;
    buf_t ti_cap, h1_cap;
    int ti_done, h1_done;       /* title_text / first_h1_text set */
    buf_t ti_text, h1_text;
    buf_t ref;                  /* decoded character references */
    int bail;
    int oom;
} walker_t;

static int row_init(row_t *r) {
    int ok = buf_init(&r->cells, 64);
    r->offs = (size_t *)malloc(8 * sizeof(size_t));
    r->n = 0;
    r->cap = 8;
    return ok && r->offs != NULL;
}

static void row_free(row_t *r) {
    free(r->cells.d);
    free(r->offs);
}

static int row_add(row_t *r, const char *s, size_t n) {
    if (r->n == r->cap) {
        size_t nc = r->cap * 2;
        size_t *no = (size_t *)realloc(r->offs, nc * sizeof(size_t));
        if (!no) return 0;
        r->offs = no;
        r->cap = nc;
    }
    r->offs[r->n++] = r->cells.len;
    if (!buf_push(&r->cells, s, n)) return 0;
    if (!buf_pushc(&r->cells, '\0')) return 0;
    return 1;
}

static const char *row_get(const row_t *r, size_t i) {
    return r->cells.d + r->offs[i];
}

#define BAIL(w) do { (w)->bail = 1; return; } while (0)
#define CHECK(w, x) do { if (!(x)) { (w)->oom = 1; return; } } while (0)

/* push with trailing-newline bookkeeping (mirrors _StrBuf.push) */
static void w_push(walker_t *w, buf_t *b, int *tn, const char *s, size_t n) {
    if (n == 0 || w->bail || w->oom) return;
    CHECK(w, buf_push(b, s, n));
    if (s[n - 1] != '\n') { *tn = 0; return; }
    size_t stripped = n;
    while (stripped > 0 && s[stripped - 1] == '\n') stripped--;
    if (stripped == 0)
        *tn += (int)n;
    else
        *tn = (int)(n - stripped);
}

static void md_push(walker_t *w, const char *s, size_t n) {
    w_push(w, &w->out, &w->out_tn, s, n);
}
static void pl_push(walker_t *w, const char *s, size_t n) {
    w_push(w, &w->plain, &w->plain_tn, s, n);
}
static void both_push(walker_t *w, const char *s, size_t n) {
    md_push(w, s, n);
    pl_push(w, s, n);
}

static void md_ensure_nl(walker_t *w) {
    if (w->out_tn < 1 && w->out.len) md_push(w, "\n", 1);
}
static void pl_ensure_nl(walker_t *w) {
    if (w->plain_tn < 1 && w->plain.len) pl_push(w, "\n", 1);
}

static void push_bq_prefix(walker_t *w) {
    for (int i = 0; i < w->bq; i++) md_push(w, "> ", 2);
}

static void md_ensure_blank(walker_t *w) {
    if (!w->out.len) return;
    if (w->bq > 0) {
        md_ensure_nl(w);
        if (w->out_tn < 2) {
            push_bq_prefix(w);
            md_push(w, "\n", 1);
        }
    } else {
        int need = 2 - w->out_tn;
        if (need > 0) {
            CHECK(w, buf_push(&w->out, "\n\n", (size_t)need));
            w->out_tn = 2;
        }
    }
}

static void pl_ensure_blank(walker_t *w) {
    if (!w->plain.len) return;
    int need = 2 - w->plain_tn;
    if (need > 0) {
        CHECK(w, buf_push(&w->plain, "\n\n", (size_t)need));
        w->plain_tn = 2;
    }
}

static void both_ensure_nl(walker_t *w) { md_ensure_nl(w); pl_ensure_nl(w); }
static void both_ensure_blank(walker_t *w) {
    md_ensure_blank(w);
    pl_ensure_blank(w);
}

static int tail_newline_count(const buf_t *b) {
    int c = 0;
    size_t i = b->len;
    while (i > 0 && b->d[i - 1] == '\n') { i--; c++; }
    return c;
}

static char last_char(const buf_t *b) {
    return b->len ? b->d[b->len - 1] : '\0';
}

static int in_table_cell(const walker_t *w) {
    return w->tbl_active && w->tbl_in_cell;
}

/* ------------------------------------------------------------------ */
/* text                                                                */

/* collapse ASCII whitespace runs to single spaces into scratch.
 * Returns scratch (caller-owned buf), or s itself if already collapsed. */
static void handle_text(walker_t *w, const char *raw, size_t n) {
    if (w->bail || w->oom) return;
    if (w->ti_active) CHECK(w, buf_push(&w->ti_cap, raw, n));
    if (w->h1_active) CHECK(w, buf_push(&w->h1_cap, raw, n));
    if (w->skip_depth > 0) return;
    if (w->tbl_active) {
        if (w->tbl_in_cell) CHECK(w, buf_push(&w->tbl_cell, raw, n));
        return;
    }
    if (w->in_pre) {
        both_push(w, raw, n);
        return;
    }
    /* collapse_whitespace */
    int needs = 0;
    for (size_t i = 0; i < n; i++) {
        unsigned char c = (unsigned char)raw[i];
        if (c == '\n' || c == '\t' || c == '\r' || c == 0x0c ||
            (c == ' ' && i + 1 < n && raw[i + 1] == ' ')) {
            needs = 1;
            break;
        }
    }
    buf_t scratch = {0};
    const char *col = raw;
    size_t coln = n;
    if (needs) {
        if (!buf_init(&scratch, n)) { w->oom = 1; return; }
        size_t i = 0;
        while (i < n) {
            /* collapsing only shrinks: scratch never grows past n */
            if (is_collapse_ws((unsigned char)raw[i])) {
                scratch.d[scratch.len++] = ' ';
                while (i < n && is_collapse_ws((unsigned char)raw[i])) i++;
            } else {
                scratch.d[scratch.len++] = raw[i];
                i++;
            }
        }
        col = scratch.d;
        coln = scratch.len;
    }
    if (coln == 0) {
        if (needs) free(scratch.d);
        return;
    }
    if (coln == 1 && col[0] == ' ') {
        if (w->out.len && w->out_tn == 0) {
            char lc = last_char(&w->out);
            if (lc != ' ' && lc != '\t') md_push(w, " ", 1);
        }
        if (w->plain.len && w->plain_tn == 0) {
            char lc = last_char(&w->plain);
            if (lc != ' ' && lc != '\t') pl_push(w, " ", 1);
        }
        if (needs) free(scratch.d);
        return;
    }
    const char *mdc = col;
    size_t mdn = coln;
    if (col[0] == ' ' && w->out.len) {
        char lc = last_char(&w->out);
        if (lc == ' ' || lc == '\t') { mdc = col + 1; mdn = coln - 1; }
    }
    const char *plc = col;
    size_t pln = coln;
    if (col[0] == ' ' && w->plain.len) {
        char lc = last_char(&w->plain);
        if (lc == ' ' || lc == '\t') { plc = col + 1; pln = coln - 1; }
    }
    if (mdn) {
        if (w->bq > 0) {
            if (w->out_tn > 0 || !w->out.len) push_bq_prefix(w);
            /* collapsed text contains no '\n' (collapse removed them),
             * so the Python per-line loop degenerates to one push */
            md_push(w, mdc, mdn);
        } else {
            md_push(w, mdc, mdn);
        }
    }
    if (pln) pl_push(w, plc, pln);
    if (needs) free(scratch.d);
}

/* ------------------------------------------------------------------ */
/* character references: html.unescape                                */

/* value of the html5 entity whose name (its ';' included, if it has
 * one) is s[0:n], or NULL */
static const char *entity_value(const char *s, size_t n) {
    size_t lo = 0, hi = N_ENTITIES;
    while (lo < hi) {
        size_t mid = lo + (hi - lo) / 2;
        const char *e = ENTITY_NAME[mid];
        int c = strncmp(e, s, n);
        if (c == 0 && e[n]) c = 1; /* s is a proper prefix of e */
        if (c == 0) return ENTITY_VALUE[mid];
        if (c < 0) lo = mid + 1;
        else hi = mid;
    }
    return NULL;
}

static int push_utf8(buf_t *b, uint32_t cp) {
    char u[4];
    size_t n;
    if (cp < 0x80) {
        u[0] = (char)cp;
        n = 1;
    } else if (cp < 0x800) {
        u[0] = (char)(0xc0 | (cp >> 6));
        u[1] = (char)(0x80 | (cp & 0x3f));
        n = 2;
    } else if (cp < 0x10000) {
        u[0] = (char)(0xe0 | (cp >> 12));
        u[1] = (char)(0x80 | ((cp >> 6) & 0x3f));
        u[2] = (char)(0x80 | (cp & 0x3f));
        n = 3;
    } else {
        u[0] = (char)(0xf0 | (cp >> 18));
        u[1] = (char)(0x80 | ((cp >> 12) & 0x3f));
        u[2] = (char)(0x80 | ((cp >> 6) & 0x3f));
        u[3] = (char)(0x80 | (cp & 0x3f));
        n = 4;
    }
    return buf_push(b, u, n);
}

/* what html.unescape makes of the numeric reference to cp (every value
 * past 0x10FFFF arrives as 0x110000) */
static int push_numeric_ref(buf_t *dst, uint32_t cp) {
    size_t nr = sizeof(CP_REMAP) / sizeof(CP_REMAP[0]);
    for (size_t k = 0; k < nr && cp >= CP_REMAP[k][0]; k++)
        if (cp == CP_REMAP[k][0]) return push_utf8(dst, CP_REMAP[k][1]);
    if ((cp >= 0xD800 && cp <= 0xDFFF) || cp > 0x10FFFF)
        return push_utf8(dst, 0xFFFD);
    nr = sizeof(CP_DROPPED) / sizeof(CP_DROPPED[0]);
    for (size_t k = 0; k < nr && cp >= CP_DROPPED[k][0]; k++)
        if (cp <= CP_DROPPED[k][1]) return 1;
    return push_utf8(dst, cp);
}

static int digit_value(unsigned char c) {
    if (c >= '0' && c <= '9') return c - '0';
    c |= 0x20;
    return (c >= 'a' && c <= 'f') ? c - 'a' + 10 : 99;
}

static int is_alnum_ascii(unsigned char c) {
    return (c >= '0' && c <= '9') || ((c | 0x20) >= 'a' && (c | 0x20) <= 'z');
}

/* the bytes a named reference's [^\t\n\f <&#;]{1,32} run stops at */
static int ends_name_run(unsigned char c) {
    return c == '\t' || c == '\n' || c == '\f' || c == ' ' || c == '<' ||
           c == '&' || c == '#' || c == ';';
}

/* append html.unescape(s[0:n]) to dst, a decimal reference of any length
 * read as html5ever reads it (past 0x10FFFF, U+FFFD).  Returns 1 ok, 0
 * allocation failure. */
static int unescape_into(buf_t *dst, const char *s, size_t n) {
    const unsigned char *u = (const unsigned char *)s;
    size_t i = 0;
    for (;;) {
        const char *amp = (const char *)memchr(s + i, '&', n - i);
        size_t lit = amp ? (size_t)(amp - s) - i : n - i;
        if (!buf_push(dst, s + i, lit)) return 0;
        if (!amp) return 1;
        i += lit + 1;
        if (i < n && s[i] == '#') {
            /* #[0-9]+;? or #[xX][0-9a-fA-F]+;? */
            size_t j = i + 1, start;
            uint32_t base = 10, cp = 0;
            if (j < n && (u[j] | 0x20) == 'x') {
                base = 16;
                j++;
            }
            for (start = j; j < n; j++) {
                uint32_t d = (uint32_t)digit_value(u[j]);
                if (d >= base) break;
                cp = cp * base + d;
                if (cp > 0x10FFFF) cp = 0x110000;
            }
            if (j > start) {
                if (j < n && s[j] == ';') j++;
                if (!push_numeric_ref(dst, cp)) return 0;
                i = j;
                continue;
            }
        } else {
            /* every entity name is alphanumeric: only the run's
             * alphanumeric head s[i:i+a] can match, and the whole match
             * only when the run (<= 32 characters) ends there */
            size_t a = 0;
            while (i + a < n && a < 32 && is_alnum_ascii(u[i + a])) a++;
            int whole = a == 32 || i + a == n || ends_name_run(u[i + a]);
            const char *v = NULL;
            size_t m = a;
            if (a && whole) {
                size_t full = a + (i + a < n && s[i + a] == ';');
                v = entity_value(s + i, full);
                m = v ? full : full - 1;
            }
            /* else the longest name of 2+ characters that is a proper
             * prefix of the match; the rest of the match stays literal */
            while (!v && m >= 2 && !(v = entity_value(s + i, m))) m--;
            if (v) {
                if (!buf_push(dst, v, strlen(v))) return 0;
                i += m;
                continue;
            }
        }
        /* no reference starts here: the '&' is literal */
        if (!buf_pushc(dst, '&')) return 0;
    }
}

/* decode s[0:n] onto the end of w->ref; 0 when the walk must stop */
static int w_unescape(walker_t *w, const char *s, size_t n) {
    if (unescape_into(&w->ref, s, n)) return 1;
    w->oom = 1;
    return 0;
}

/* handle_text(html.unescape(raw)); a span without '&' is passed as is */
static void handle_text_unescaped(walker_t *w, const char *raw, size_t n) {
    if (!memchr(raw, '&', n)) {
        handle_text(w, raw, n);
        return;
    }
    w->ref.len = 0;
    if (w_unescape(w, raw, n)) handle_text(w, w->ref.d, w->ref.len);
}

/* ------------------------------------------------------------------ */
/* markdown helpers                                                    */

static void format_heading(walker_t *w, int level, const char *s, size_t n) {
    if (level < 1) level = 1;
    if (level > 6) level = 6;
    char pre[8];
    for (int i = 0; i < level; i++) pre[i] = '#';
    pre[level] = ' ';
    md_push(w, pre, (size_t)level + 1);
    md_push(w, s, n);
    md_push(w, "\n", 1);
}

/* escape_cell into dst; 0 on allocation failure */
static int escape_cell(buf_t *dst, const char *s, size_t n) {
    int needs = 0;
    for (size_t i = 0; i < n; i++) {
        char c = s[i];
        if (c == '\\' || c == '|' || c == '\n' || c == '\r') { needs = 1; break; }
    }
    if (!needs) return buf_push(dst, s, n);
    int ok = 1;
    for (size_t i = 0; i < n && ok; i++) {
        char c = s[i];
        if (c == '\\') ok = buf_push(dst, "\\\\", 2);
        else if (c == '|') ok = buf_push(dst, "\\|", 2);
        else if (c == '\r') {
            if (i + 1 < n && s[i + 1] == '\n') { ok = buf_push(dst, "<br>", 4); i++; }
            /* lone \r dropped */
        } else if (c == '\n') ok = buf_push(dst, "<br>", 4);
        else ok = buf_pushc(dst, c);
    }
    return ok;
}

/* ------------------------------------------------------------------ */
/* open / close handlers                                               */

static void pop_close(walker_t *w);
static void handle_close_tag(walker_t *w, int id, const char *name,
                             size_t nlen);

static void table_reset_row(row_t *r) {
    r->cells.len = 0;
    r->n = 0;
}

static void open_handler(walker_t *w, int id, const char *href, size_t hrefn,
                         const char *alt, size_t altn, const char *src,
                         size_t srcn, const char *type, size_t typen,
                         int has_checked) {
    switch (id) {
    case T_H1: case T_H2: case T_H3: case T_H4: case T_H5: case T_H6:
        both_ensure_blank(w);
        w->ph_active = 1;
        w->ph_level = id - T_H1 + 1;
        w->ph_start = w->out.len;
        w->ph_plain_start = w->plain.len;
        break;
    case T_P:
        if (!in_table_cell(w)) both_ensure_blank(w);
        break;
    case T_A:
        w->pl_active = 1;
        w->pl_href.len = 0;
        CHECK(w, buf_push(&w->pl_href, href ? href : "", href ? hrefn : 0));
        w->pl_start = w->out.len;
        break;
    case T_IMG: {
        md_push(w, "![", 2);
        md_push(w, alt ? alt : "", alt ? altn : 0);
        md_push(w, "](", 2);
        md_push(w, src ? src : "", src ? srcn : 0);
        md_push(w, ")", 1);
        pl_push(w, alt ? alt : "", alt ? altn : 0);
        break;
    }
    case T_STRONG: case T_B:
        md_push(w, "**", 2);
        break;
    case T_EM: case T_I:
        md_push(w, "*", 1);
        break;
    case T_CODE:
        if (!w->in_pre) md_push(w, "`", 1);
        break;
    case T_PRE:
        w->in_pre = 1;
        both_ensure_blank(w);
        md_push(w, "```\n", 4);
        break;
    case T_UL: case T_OL:
        if (w->nlists) both_ensure_nl(w);
        else both_ensure_blank(w);
        if (w->nlists >= MAX_LISTS) BAIL(w);
        w->list_ordered[w->nlists] = (id == T_OL);
        w->list_count[w->nlists] = 0;
        w->nlists++;
        break;
    case T_LI: {
        int ind = w->nlists - 1;
        if (ind < 0) ind = 0;
        if (ind > 20) BAIL(w); /* indent buffer bound; Python handles deep */
        char tmp[64];
        int len = 0;
        for (int i = 0; i < ind; i++) {
            tmp[len++] = ' ';
            tmp[len++] = ' ';
        }
        int indent_len = len;
        if (w->nlists) {
            int *cnt = &w->list_count[w->nlists - 1];
            (*cnt)++;
            if (w->list_ordered[w->nlists - 1])
                len += snprintf(tmp + len, sizeof(tmp) - (size_t)len, "%d. ",
                                *cnt);
            else { tmp[len++] = '-'; tmp[len++] = ' '; }
        } else { tmp[len++] = '-'; tmp[len++] = ' '; }
        md_push(w, tmp, (size_t)len);
        pl_push(w, tmp, (size_t)indent_len);
        break;
    }
    case T_TABLE:
        both_ensure_blank(w);
        w->tbl_active = 1;
        w->tbl_in_header = 0;
        w->tbl_in_cell = 0;
        w->tbl_cell.len = 0;
        w->tbl_headers.cells.len = 0;
        w->tbl_headers.n = 0;
        for (size_t i = 0; i < w->tbl_nrows; i++) row_free(&w->tbl_rows[i]);
        w->tbl_nrows = 0;
        table_reset_row(&w->tbl_currow);
        break;
    case T_THEAD:
        if (w->tbl_active) w->tbl_in_header = 1;
        break;
    case T_TBODY:
        if (w->tbl_active) w->tbl_in_header = 0;
        break;
    case T_TR:
        if (w->tbl_active) table_reset_row(&w->tbl_currow);
        break;
    case T_TH: case T_TD:
        if (w->tbl_active) {
            w->tbl_cell.len = 0;
            w->tbl_in_cell = 1;
        }
        break;
    case T_BLOCKQUOTE:
        w->bq++;
        md_ensure_nl(w);
        pl_ensure_nl(w);
        break;
    case T_HR:
        md_ensure_blank(w);
        md_push(w, "---\n", 4);
        pl_ensure_blank(w);
        break;
    case T_BR:
        if (w->in_pre) both_push(w, "\n", 1);
        else if (in_table_cell(w)) { /* dropped */ }
        else {
            both_push(w, "\n", 1);
            if (w->bq > 0) push_bq_prefix(w);
        }
        break;
    case T_INPUT:
        if (type && typen == 8 && memcmp(type, "checkbox", 8) == 0)
            md_push(w, has_checked ? "[x] " : "[ ] ", 4);
        break;
    default:
        break;
    }
}

static void render_table(walker_t *w) {
    /* headers fallback: no <thead> -> first row becomes header */
    row_t *headers = &w->tbl_headers;
    row_t **rows = NULL;
    size_t nrows = 0;
    row_t *first_as_header = NULL;
    if (headers->n == 0 && w->tbl_nrows > 0) {
        first_as_header = &w->tbl_rows[0];
        headers = first_as_header;
        nrows = w->tbl_nrows - 1;
        if (nrows) {
            rows = (row_t **)malloc(nrows * sizeof(row_t *));
            if (!rows) { w->oom = 1; return; }
            for (size_t i = 0; i < nrows; i++) rows[i] = &w->tbl_rows[i + 1];
        }
    } else {
        nrows = w->tbl_nrows;
        if (nrows) {
            rows = (row_t **)malloc(nrows * sizeof(row_t *));
            if (!rows) { w->oom = 1; return; }
            for (size_t i = 0; i < nrows; i++) rows[i] = &w->tbl_rows[i];
        }
    }
    size_t nc = headers->n;
    if (nc == 0) { free(rows); return; }

/* a failed allocation leaves the table unrendered and the walk OOM */
#define TRY(x) do { if (!(x)) goto oom; } while (0)
    buf_t md = {0}, pl = {0};
    /* markdown table */
    TRY(buf_init(&md, 256));
    TRY(buf_push(&md, "| ", 2));
    for (size_t i = 0; i < nc; i++) {
        if (i) TRY(buf_push(&md, " | ", 3));
        const char *c = row_get(headers, i);
        TRY(escape_cell(&md, c, strlen(c)));
    }
    TRY(buf_push(&md, " |\n|", 4));
    for (size_t i = 0; i < nc; i++) TRY(buf_push(&md, "---|", 4));
    TRY(buf_pushc(&md, '\n'));
    for (size_t r = 0; r < nrows; r++) {
        row_t *row = rows[r];
        TRY(buf_push(&md, "| ", 2));
        for (size_t i = 0; i < nc; i++) {
            if (i) TRY(buf_push(&md, " | ", 3));
            const char *c = i < row->n ? row_get(row, i) : "";
            TRY(escape_cell(&md, c, strlen(c)));
        }
        TRY(buf_push(&md, " |\n", 3));
    }
    md_push(w, md.d, md.len);
    free(md.d);
    md.d = NULL;

    /* plain table */
    TRY(buf_init(&pl, 256));
    for (size_t i = 0; i < nc; i++) {
        if (i) TRY(buf_pushc(&pl, '\t'));
        const char *c = row_get(headers, i);
        TRY(buf_push(&pl, c, strlen(c)));
    }
    TRY(buf_pushc(&pl, '\n'));
    for (size_t r = 0; r < nrows; r++) {
        row_t *row = rows[r];
        for (size_t i = 0; i < nc; i++) {
            if (i) TRY(buf_pushc(&pl, '\t'));
            const char *c = i < row->n ? row_get(row, i) : "";
            TRY(buf_push(&pl, c, strlen(c)));
        }
        TRY(buf_pushc(&pl, '\n'));
    }
    pl_push(w, pl.d, pl.len);
    goto done;
#undef TRY
oom:
    w->oom = 1;
done:
    free(md.d);
    free(pl.d);
    free(rows);
}

static void close_handler(walker_t *w, int id) {
    switch (id) {
    case T_H1: case T_H2: case T_H3: case T_H4: case T_H5: case T_H6:
        if (w->ph_active) {
            int level = w->ph_level;
            size_t start = w->ph_start, pstart = w->ph_plain_start;
            w->ph_active = 0;
            size_t tn = w->out.len - start;
            char *text = (char *)malloc(tn ? tn : 1);
            if (!text) { w->oom = 1; return; }
            memcpy(text, w->out.d + start, tn);
            w->out.len = start;
            w->out_tn = tail_newline_count(&w->out);
            size_t a, b2;
            u_strip(text, tn, &a, &b2);
            format_heading(w, level, text + a, b2 - a);
            free(text);
            size_t ptn = w->plain.len - pstart;
            char *ptext = (char *)malloc(ptn ? ptn : 1);
            if (!ptext) { w->oom = 1; return; }
            memcpy(ptext, w->plain.d + pstart, ptn);
            w->plain.len = pstart;
            w->plain_tn = tail_newline_count(&w->plain);
            u_strip(ptext, ptn, &a, &b2);
            if (b2 > a) {
                pl_push(w, ptext + a, b2 - a);
                pl_push(w, "\n", 1);
            }
            free(ptext);
        }
        break;
    case T_P:
        if (!in_table_cell(w)) both_ensure_blank(w);
        break;
    case T_A:
        if (w->pl_active) {
            w->pl_active = 0;
            size_t start = w->pl_start;
            size_t tn = w->out.len - start;
            char *text = (char *)malloc(tn ? tn : 1);
            if (!text) { w->oom = 1; return; }
            memcpy(text, w->out.d + start, tn);
            w->out.len = start;
            w->out_tn = tail_newline_count(&w->out);
            size_t a, b2;
            u_strip(text, tn, &a, &b2);
            if (w->pl_href.len == 0) {
                md_push(w, text + a, b2 - a);
            } else {
                md_push(w, "[", 1);
                md_push(w, text + a, b2 - a);
                md_push(w, "](", 2);
                md_push(w, w->pl_href.d, w->pl_href.len);
                md_push(w, ")", 1);
            }
            free(text);
        }
        break;
    case T_STRONG: case T_B:
        md_push(w, "**", 2);
        break;
    case T_EM: case T_I:
        md_push(w, "*", 1);
        break;
    case T_CODE:
        if (!w->in_pre) md_push(w, "`", 1);
        break;
    case T_PRE:
        md_ensure_nl(w);
        md_push(w, "```\n", 4);
        pl_ensure_nl(w);
        w->in_pre = 0;
        break;
    case T_UL: case T_OL:
        if (w->nlists) w->nlists--;
        if (!w->nlists) both_ensure_blank(w);
        break;
    case T_LI:
        both_ensure_nl(w);
        break;
    case T_TABLE:
        if (w->tbl_active) {
            render_table(w);
            w->tbl_active = 0;
            for (size_t i = 0; i < w->tbl_nrows; i++) row_free(&w->tbl_rows[i]);
            w->tbl_nrows = 0;
        }
        break;
    case T_TR:
        if (w->tbl_active) {
            if (w->tbl_in_header) {
                /* headers = current row */
                w->tbl_headers.cells.len = 0;
                w->tbl_headers.n = 0;
                for (size_t i = 0; i < w->tbl_currow.n; i++) {
                    const char *c = row_get(&w->tbl_currow, i);
                    if (!row_add(&w->tbl_headers, c, strlen(c))) {
                        w->oom = 1;
                        return;
                    }
                }
            } else {
                if (w->tbl_nrows == w->tbl_rowcap) {
                    size_t nc = w->tbl_rowcap * 2;
                    row_t *nr =
                        (row_t *)realloc(w->tbl_rows, nc * sizeof(row_t));
                    if (!nr) { w->oom = 1; return; }
                    w->tbl_rows = nr;
                    w->tbl_rowcap = nc;
                }
                row_t *dst = &w->tbl_rows[w->tbl_nrows++];
                if (!row_init(dst)) { w->oom = 1; return; }
                for (size_t i = 0; i < w->tbl_currow.n; i++) {
                    const char *c = row_get(&w->tbl_currow, i);
                    if (!row_add(dst, c, strlen(c))) { w->oom = 1; return; }
                }
            }
            table_reset_row(&w->tbl_currow);
        }
        break;
    case T_TH: case T_TD:
        if (w->tbl_active) {
            size_t a, b2;
            u_strip(w->tbl_cell.d, w->tbl_cell.len, &a, &b2);
            /* cells may contain '\0'?  raw text never does (UTF-8) */
            char *tmp = (char *)malloc(b2 - a + 1);
            if (!tmp) { w->oom = 1; return; }
            memcpy(tmp, w->tbl_cell.d + a, b2 - a);
            tmp[b2 - a] = '\0';
            if (memchr(tmp, '\0', b2 - a) != NULL) { free(tmp); BAIL(w); }
            if (!row_add(&w->tbl_currow, tmp, b2 - a)) {
                free(tmp);
                w->oom = 1;
                return;
            }
            free(tmp);
            w->tbl_cell.len = 0;
            w->tbl_in_cell = 0;
        }
        break;
    case T_BLOCKQUOTE:
        if (w->bq > 0) w->bq--;
        both_ensure_nl(w);
        break;
    default:
        break;
    }
}

/* handle_open with capture/skip bookkeeping (mirrors _Walker.handle_open) */
static void handle_open_tag(walker_t *w, int id, const char *href,
                            size_t hrefn, const char *alt, size_t altn,
                            const char *src, size_t srcn, const char *type,
                            size_t typen, int has_checked) {
    int flags = id ? tag_flags_by_id[id] : 0;
    if (flags & F_CAPSKIP) {
        if (id == T_TITLE && !w->ti_active && !w->ti_done) {
            w->ti_active = 1;
            w->ti_cap.len = 0;
        }
        if (id == T_H1 && !w->h1_active && !w->h1_done) {
            w->h1_active = 1;
            w->h1_cap.len = 0;
        }
        if (flags & F_SKIPTAG) {
            w->skip_depth++;
            return;
        }
    }
    if (w->skip_depth > 0) return;
    open_handler(w, id, href, hrefn, alt, altn, src, srcn, type, typen,
                 has_checked);
}

static void handle_close_tag(walker_t *w, int id, const char *name,
                             size_t nlen) {
    (void)name; (void)nlen;
    int flags = id ? tag_flags_by_id[id] : 0;
    if (flags & F_CAPSKIP) {
        if (id == T_TITLE && w->ti_active) {
            size_t a, b2;
            u_strip(w->ti_cap.d, w->ti_cap.len, &a, &b2);
            if (b2 > a && !w->ti_done) {
                w->ti_text.len = 0;
                CHECK(w, buf_push(&w->ti_text, w->ti_cap.d + a, b2 - a));
                w->ti_done = 1;
            }
            w->ti_active = 0;
        }
        if (id == T_H1 && w->h1_active) {
            size_t a, b2;
            u_strip(w->h1_cap.d, w->h1_cap.len, &a, &b2);
            if (b2 > a && !w->h1_done) {
                w->h1_text.len = 0;
                CHECK(w, buf_push(&w->h1_text, w->h1_cap.d + a, b2 - a));
                w->h1_done = 1;
            }
            w->h1_active = 0;
        }
        if (flags & F_SKIPTAG) {
            if (w->skip_depth > 0) w->skip_depth--;
            return;
        }
    }
    if (w->skip_depth > 0) return;
    close_handler(w, id);
}

static void pop_close(walker_t *w) {
    if (w->sp <= 0) return;
    stackent_t *e = &w->stack[--w->sp];
    if (e->id == T_P) w->p_open--;
    handle_close_tag(w, e->id, e->name, e->nlen);
}

static void close_up_to_any(walker_t *w, const int *targets, int ntargets,
                            const int *stops, int nstops) {
    for (int i = w->sp - 1; i >= 0; i--) {
        int id = w->stack[i].id;
        for (int k = 0; k < nstops; k++)
            if (id == stops[k]) return;
        for (int k = 0; k < ntargets; k++)
            if (id == targets[k]) {
                while (w->sp > i) pop_close(w);
                return;
            }
    }
}

static void close_implied_for(walker_t *w, int id, int flags) {
    if (flags & F_IMPLIED) {
        if (id == T_LI) {
            int t[] = {T_LI}, s[] = {T_UL, T_OL};
            close_up_to_any(w, t, 1, s, 2);
        } else if (id == T_DT || id == T_DD) {
            int t[] = {T_DT, T_DD}, s[] = {T_DL};
            close_up_to_any(w, t, 2, s, 1);
        } else if (id == T_TD || id == T_TH) {
            int t[] = {T_TD, T_TH}, s[] = {T_TR, T_TABLE};
            close_up_to_any(w, t, 2, s, 2);
        } else if (id == T_TR) {
            int t[] = {T_TR}, s[] = {T_TABLE, T_THEAD, T_TBODY, T_TFOOT};
            close_up_to_any(w, t, 1, s, 4);
        } else { /* thead tbody tfoot */
            int t[] = {T_TR}, s[] = {T_TABLE};
            close_up_to_any(w, t, 1, s, 1);
        }
    }
    if (w->p_open && (flags & F_PCLOSER)) {
        for (int i = w->sp - 1; i >= 0; i--) {
            if (w->stack[i].id == T_P) {
                int all_fmt = 1;
                for (int j = i + 1; j < w->sp; j++) {
                    int jid = w->stack[j].id;
                    if (!jid || !(tag_flags_by_id[jid] & F_FORMATTING)) {
                        all_fmt = 0;
                        break;
                    }
                }
                if (all_fmt)
                    while (w->sp > i) pop_close(w);
                break;
            }
        }
    }
}

static void edge_starttag(walker_t *w, int id, const char *name, size_t nlen,
                          const char *href, size_t hrefn, const char *alt,
                          size_t altn, const char *src, size_t srcn,
                          const char *type, size_t typen, int has_checked) {
    if (w->bail || w->oom) return;
    if (id == T_UNKNOWN) {
        if (w->sp >= MAX_STACK) BAIL(w);
        stackent_t *e = &w->stack[w->sp++];
        e->id = T_UNKNOWN;
        memcpy(e->name, name, nlen);
        e->name[nlen] = '\0';
        e->nlen = (unsigned char)nlen;
        return;
    }
    int flags = tag_flags_by_id[id];
    if (flags & F_VOID) {
        handle_open_tag(w, id, href, hrefn, alt, altn, src, srcn, type, typen,
                        has_checked);
        handle_close_tag(w, id, name, nlen);
        return;
    }
    if ((flags & F_IMPLIED) || (w->p_open && (flags & F_PCLOSER)))
        close_implied_for(w, id, flags);
    if (w->sp >= MAX_STACK) BAIL(w);
    stackent_t *e = &w->stack[w->sp++];
    e->id = id;
    memcpy(e->name, name, nlen);
    e->name[nlen] = '\0';
    e->nlen = (unsigned char)nlen;
    if (flags & F_P) w->p_open++;
    if (flags & F_CAPSKIP) {
        handle_open_tag(w, id, href, hrefn, alt, altn, src, srcn, type, typen,
                        has_checked);
        return;
    }
    if (w->skip_depth > 0) return;
    open_handler(w, id, href, hrefn, alt, altn, src, srcn, type, typen,
                 has_checked);
}

static void edge_endtag(walker_t *w, int id, const char *name, size_t nlen) {
    if (w->bail || w->oom) return;
    int flags = id ? tag_flags_by_id[id] : 0;
    if (id && (flags & F_VOID)) return;
    if (w->sp > 0) {
        stackent_t *top = &w->stack[w->sp - 1];
        if (top->nlen == nlen && memcmp(top->name, name, nlen) == 0) {
            w->sp--;
            if (id == T_UNKNOWN) return;
            if (flags & F_P) w->p_open--;
            if (flags & F_CAPSKIP) {
                handle_close_tag(w, id, name, nlen);
                return;
            }
            if (w->skip_depth > 0) return;
            close_handler(w, id);
            return;
        }
    }
    for (int i = w->sp - 1; i >= 0; i--) {
        if (w->stack[i].nlen == nlen &&
            memcmp(w->stack[i].name, name, nlen) == 0) {
            while (w->sp > i) pop_close(w);
            return;
        }
    }
}

/* ------------------------------------------------------------------ */
/* tokenizer                                                           */

/* find html.parser's cdata close </\s*NAME\s*> (re.I) from pos.
 * On success: *content_end = start of "</", *resume = after '>'.
 * Returns 1 found, 0 not found (content to EOF), -1 bail. */
static int find_rawtext_close(const unsigned char *s, size_t n, size_t pos,
                              const char *name, size_t nlen,
                              size_t *content_end, size_t *resume) {
    for (size_t i = pos; i + 1 < n; i++) {
        if (s[i] != '<' || s[i + 1] != '/') continue;
        size_t j = skip_py_ws(s, n, i + 2);
        size_t k = 0;
        while (k < nlen && j < n && lower_ascii((char)s[j]) == name[k]) {
            j++;
            k++;
        }
        if (k < nlen) {
            /* re.I also folds 'ı' onto i and 'ſ' onto s */
            if (j < n && s[j] >= 0x80) return -1;
            continue;
        }
        j = skip_py_ws(s, n, j);
        if (j < n && s[j] == '>') {
            *content_end = i;
            *resume = j + 1;
            return 1;
        }
    }
    return 0;
}

/* past the first '--' \s* '>' at or after s[from] (the close of a
 * comment), or 0 when there is none */
static size_t comment_close(const unsigned char *s, size_t n, size_t from) {
    for (size_t i = from; i + 1 < n; i++) {
        if (s[i] != '-' || s[i + 1] != '-') continue;
        size_t j = skip_py_ws(s, n, i + 2);
        if (j < n && s[j] == '>') return j + 1;
    }
    return 0;
}

/* an unterminated construct at s[pos]: html.parser stops there, and at
 * close() _EdgeParser drops the rest of the input when the first such
 * construct opens with '<!' or '<?' and no '>' follows it; any other one
 * is text up to and including the next '>' or, with none, a lone '<'.
 * Returns where to resume. */
static size_t unterminated(walker_t *w, const unsigned char *s, size_t n,
                           size_t pos, int *broke) {
    const unsigned char *gt =
        (const unsigned char *)memchr(s + pos + 1, '>', n - pos - 1);
    int first = !*broke;
    *broke = 1;
    if (first && !gt && (s[pos + 1] == '!' || s[pos + 1] == '?')) return n;
    size_t end = gt ? (size_t)(gt - s) + 1 : pos + 1;
    handle_text_unescaped(w, (const char *)s + pos, end - pos);
    return end;
}

typedef struct {
    const char *p;
    size_t n;
} slice_t;

/* html.unescape the attribute values tag `id` reads (the others never
 * reach a handler), decoding into w->ref */
static void unescape_attrs(walker_t *w, int id, slice_t *href, slice_t *alt,
                           slice_t *src, slice_t *type) {
    slice_t *read[2];
    size_t start[2], end[2];
    int nr = 0, decoded[2] = {0, 0};
    if (id == T_A) read[nr++] = href;
    else if (id == T_IMG) { read[nr++] = alt; read[nr++] = src; }
    else if (id == T_INPUT) read[nr++] = type;
    w->ref.len = 0;
    for (int k = 0; k < nr; k++) {
        if (!read[k]->p || !memchr(read[k]->p, '&', read[k]->n)) continue;
        start[k] = w->ref.len;
        if (!w_unescape(w, read[k]->p, read[k]->n)) return;
        end[k] = w->ref.len;
        decoded[k] = 1;
    }
    /* a later decode may move w->ref, so point into it only now */
    for (int k = 0; k < nr; k++) {
        if (!decoded[k]) continue;
        read[k]->p = w->ref.d + start[k];
        read[k]->n = end[k] - start[k];
    }
}

/* parse a start tag beginning at s[pos] ('<' at pos, letter at pos+1).
 * Returns: 1 = ok (out params set), 0 = not a complete tag (caller
 * emits lone '<'), -1 = bail. */
static int parse_start_tag(const unsigned char *s, size_t n, size_t pos,
                           char *namebuf, size_t *namelen, slice_t *href,
                           slice_t *alt, slice_t *src, slice_t *type,
                           int *has_checked, int *self_closing,
                           size_t *resume) {
    size_t i = pos + 1;
    size_t ns = i;
    /* tag name: [a-zA-Z][^\t\n\r\f />]* ; bail on \v, on \0 (where
     * html.parser ends the name and reads the tag as text) and on U+212A
     * KELVIN SIGN, the one non-ASCII character str.lower() makes ASCII:
     * any other non-ASCII name never equals an ASCII one, lowered or not */
    while (i < n) {
        unsigned char c = s[i];
        if (c == '\t' || c == '\n' || c == '\r' || c == 0x0c || c == ' ' ||
            c == '/' || c == '>')
            break;
        if (c == 0x0b || c == 0 ||
            (c == 0xe2 && n - i >= 3 && memcmp(s + i, "\xe2\x84\xaa", 3) == 0))
            return -1;
        i++;
    }
    size_t nl = i - ns;
    if (nl == 0 || nl > MAX_TAGNAME) return -1;
    for (size_t k = 0; k < nl; k++) namebuf[k] = lower_ascii((char)s[ns + k]);
    *namelen = nl;
    href->p = alt->p = src->p = type->p = NULL;
    href->n = alt->n = src->n = type->n = 0;
    *has_checked = 0;
    *self_closing = 0;
    /* attrs */
    for (;;) {
        /* separators: ascii ws ('\v' counts as \s); '/' only before '>' */
        int saw_sep = 0;
        while (i < n && (is_tag_ws(s[i]))) { i++; saw_sep = 1; }
        if (i >= n) return 0; /* unterminated */
        unsigned char c = s[i];
        if (c >= 0x80) return -1;
        if (c == '>') { *resume = i + 1; return 1; }
        if (c == '/') {
            /* '/>' self-closes; any other '/' is a separator: bail */
            if (i + 1 < n && s[i + 1] == '>') {
                *self_closing = 1;
                *resume = i + 2;
                return 1;
            }
            return -1;
        }
        if (!saw_sep) return -1; /* attr without separator: regex wouldn't */
        /* attr name: [^\s/>][^\s/=>]* */
        size_t as = i;
        i++; /* first char validated: not ws, not '/', not '>', ascii */
        while (i < n) {
            unsigned char d = s[i];
            if (is_tag_ws(d) || d == '/' || d == '=' || d == '>') break;
            if (d >= 0x80) return -1;
            i++;
        }
        size_t an = i - as;
        if (an > 63) return -1;
        char aname[64];
        for (size_t k = 0; k < an; k++)
            aname[k] = lower_ascii((char)s[as + k]);
        /* optional \s*=+\s* value */
        size_t save = i;
        while (i < n && is_tag_ws(s[i])) i++;
        const char *vp = NULL;
        size_t vn = 0;
        int has_val = 0;
        if (i < n && s[i] == '=') {
            while (i < n && s[i] == '=') i++;
            while (i < n && is_tag_ws(s[i])) i++;
            if (i < n && s[i] >= 0x80) return -1;
            if (i < n && (s[i] == '"' || s[i] == '\'')) {
                unsigned char q = s[i];
                size_t vs = ++i;
                while (i < n && s[i] != q) i++;
                /* html.parser re-reads an unclosed quote: bail */
                if (i >= n) return -1;
                vp = (const char *)s + vs;
                vn = i - vs;
                i++; /* past quote */
            } else {
                /* unquoted [^\s>]* — '\0'..'/' ok but >=0x80 bails
                 * (unicode \s could terminate it in Python) */
                size_t vs = i;
                while (i < n) {
                    unsigned char d = s[i];
                    if (is_tag_ws(d) || d == '>') break;
                    if (d >= 0x80) return -1;
                    i++;
                }
                vp = (const char *)s + vs;
                vn = i - vs;
            }
            has_val = 1;
        } else {
            i = save; /* no '=': value-less attr */
        }
        /* record interesting attrs; last occurrence wins */
        if (an == 4 && memcmp(aname, "href", 4) == 0 && has_val) {
            href->p = vp; href->n = vn;
        } else if (an == 4 && memcmp(aname, "href", 4) == 0) {
            href->p = NULL; href->n = 0; /* present, value None */
        } else if (an == 3 && memcmp(aname, "alt", 3) == 0) {
            alt->p = has_val ? vp : NULL; alt->n = has_val ? vn : 0;
        } else if (an == 3 && memcmp(aname, "src", 3) == 0) {
            src->p = has_val ? vp : NULL; src->n = has_val ? vn : 0;
        } else if (an == 4 && memcmp(aname, "type", 4) == 0) {
            type->p = has_val ? vp : NULL; type->n = has_val ? vn : 0;
        } else if (an == 7 && memcmp(aname, "checked", 7) == 0) {
            *has_checked = 1;
        }
    }
}

/* returns 0 ok, 1 oom, 2 bail */
int html_convert(const char *input, size_t n, char **md_out, size_t *md_len,
                 char **pl_out, size_t *pl_len, char **ti_out,
                 size_t *ti_len, int *has_title) {
    init_flags();
    const unsigned char *s = (const unsigned char *)input;
    walker_t w;
    memset(&w, 0, sizeof(w));
    *md_out = *pl_out = *ti_out = NULL;
    *has_title = 0;
    /* & not &&: every buffer gets initialised, so all can be freed */
    int ok = buf_init(&w.out, n + 64) & buf_init(&w.plain, n + 64) &
             buf_init(&w.pl_href, 32) & buf_init(&w.tbl_cell, 64) &
             row_init(&w.tbl_headers) & row_init(&w.tbl_currow) &
             buf_init(&w.ti_cap, 32) & buf_init(&w.h1_cap, 32) &
             buf_init(&w.ti_text, 32) & buf_init(&w.h1_text, 32);
    w.tbl_rows = (row_t *)malloc(8 * sizeof(row_t));
    w.tbl_rowcap = 8;
    if (!ok || !w.tbl_rows) w.oom = 1;

    size_t pos = 0;
    int broke = 0; /* met an unterminated construct */
    while (pos < n && !w.bail && !w.oom) {
        unsigned char c = s[pos];
        if (c != '<') {
            /* text run [^<]+ */
            size_t e = pos;
            while (e < n && s[e] != '<') e++;
            handle_text_unescaped(&w, (const char *)s + pos, e - pos);
            pos = e;
            continue;
        }
        /* at '<' */
        if (pos + 1 >= n) {
            /* lone '<' at EOF */
            handle_text(&w, "<", 1);
            pos++;
            continue;
        }
        unsigned char c1 = s[pos + 1];
        if (c1 == '!' || c1 == '?') {
            size_t end = 0;
            if (c1 == '!' && pos + 3 < n && s[pos + 2] == '-' &&
                s[pos + 3] == '-') {
                end = comment_close(s, n, pos + 4);
            } else if (c1 == '!' && pos + 2 < n && s[pos + 2] == '[') {
                /* a marked section: _EdgeParser reads it by keyword */
                w.bail = 1;
                break;
            } else {
                /* doctype, bogus comment or PI: to the next '>' */
                const unsigned char *f =
                    (const unsigned char *)memchr(s + pos, '>', n - pos);
                if (f) end = (size_t)(f - s) + 1;
            }
            pos = end ? end : unterminated(&w, s, n, pos, &broke);
            continue;
        }
        if (c1 == '/') {
            const unsigned char *f =
                (const unsigned char *)memchr(s + pos, '>', n - pos);
            if (!f) {
                pos = unterminated(&w, s, n, pos, &broke);
                continue;
            }
            size_t gt = (size_t)(f - s);
            /* </\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*> is an end tag; else,
             * with the name right after '</' and ending where
             * html.parser's tolerant name does, an end tag up to the
             * next '>'; anything else is swallowed to that '>' */
            size_t ns = skip_py_ws(s, n, pos + 2), i = ns;
            int named = 0;
            if (i < gt && ((s[i] | 0x20) >= 'a' && (s[i] | 0x20) <= 'z')) {
                for (i++; i < gt; i++) {
                    unsigned char d = s[i];
                    if (!(is_alnum_ascii(d) || d == '-' || d == '.' ||
                          d == ':' || d == '_'))
                        break;
                }
                if (skip_py_ws(s, n, i) == gt) {
                    named = 1;
                } else if (ns == pos + 2) {
                    unsigned char d = s[i];
                    if (!(d == '\t' || d == '\n' || d == '\r' || d == 0x0c ||
                          d == ' ' || d == '/' || d == 0)) {
                        w.bail = 1; /* a tolerant name: not mirrored */
                        break;
                    }
                    named = 1;
                }
            }
            if (named) {
                size_t nl = i - ns;
                if (nl > MAX_TAGNAME) { w.bail = 1; break; }
                char nb[MAX_TAGNAME + 1];
                for (size_t k = 0; k < nl; k++)
                    nb[k] = lower_ascii((char)s[ns + k]);
                nb[nl] = '\0';
                edge_endtag(&w, tag_lookup(nb, nl), nb, nl);
            }
            pos = gt + 1;
            continue;
        }
        if ((c1 >= 'a' && c1 <= 'z') || (c1 >= 'A' && c1 <= 'Z')) {
            char namebuf[MAX_TAGNAME + 1];
            size_t namelen = 0, resume = 0;
            slice_t href, alt, src, type;
            int has_checked = 0, self_closing = 0;
            int r = parse_start_tag(s, n, pos, namebuf, &namelen, &href, &alt,
                                    &src, &type, &has_checked, &self_closing,
                                    &resume);
            if (r < 0) { w.bail = 1; break; }
            if (r == 0) {
                pos = unterminated(&w, s, n, pos, &broke);
                continue;
            }
            int id = tag_lookup(namebuf, namelen);
            unescape_attrs(&w, id, &href, &alt, &src, &type);
            if (w.bail || w.oom) break;
            if (self_closing) {
                handle_open_tag(&w, id, href.p, href.n, alt.p, alt.n, src.p,
                                src.n, type.p, type.n, has_checked);
                handle_close_tag(&w, id, namebuf, namelen);
                pos = resume;
                continue;
            }
            edge_starttag(&w, id, namebuf, namelen, href.p, href.n, alt.p,
                          alt.n, src.p, src.n, type.p, type.n, has_checked);
            pos = resume;
            if (id && (tag_flags_by_id[id] & F_RAWTEXT)) {
                size_t cend, res2;
                int fr = find_rawtext_close(s, n, pos, namebuf, namelen,
                                            &cend, &res2);
                if (fr < 0) { w.bail = 1; break; }
                /* an unclosed one runs to EOF; html.parser drops its
                 * content when it already stopped at an earlier
                 * unterminated construct */
                if (fr == 0) {
                    cend = broke ? pos : n;
                    res2 = n;
                }
                if (cend > pos) {
                    /* title/textarea content is RCDATA: unescaped;
                     * script/style content stays raw */
                    if (id == T_TITLE || id == T_TEXTAREA)
                        handle_text_unescaped(&w, (const char *)s + pos,
                                              cend - pos);
                    else
                        handle_text(&w, (const char *)s + pos, cend - pos);
                }
                edge_endtag(&w, id, namebuf, namelen);
                pos = res2;
            }
            continue;
        }
        /* lone '<' */
        handle_text(&w, "<", 1);
        pos++;
    }

    int rc = 0;
    if (w.oom) rc = 1;
    else if (w.bail) rc = 2;
    else {
        /* edge_eof */
        while (w.sp > 0 && !w.oom) pop_close(&w);
        if (w.oom) rc = 1;
    }
    if (rc == 0) {
        /* out.take().strip() + '\n' if nonempty */
        size_t a, b;
        u_strip(w.out.d, w.out.len, &a, &b);
        size_t mn = b - a;
        *md_out = (char *)malloc(mn + 2);
        if (!*md_out) rc = 1;
        else {
            memcpy(*md_out, w.out.d + a, mn);
            if (mn) { (*md_out)[mn] = '\n'; mn++; }
            *md_len = mn;
        }
        if (rc == 0) {
            u_strip(w.plain.d, w.plain.len, &a, &b);
            size_t pn = b - a;
            *pl_out = (char *)malloc(pn + 2);
            if (!*pl_out) rc = 1;
            else {
                memcpy(*pl_out, w.plain.d + a, pn);
                if (pn) { (*pl_out)[pn] = '\n'; pn++; }
                *pl_len = pn;
            }
        }
        if (rc == 0) {
            if (w.ti_done) {
                *has_title = 1;
                *ti_out = (char *)malloc(w.ti_text.len + 1);
                if (!*ti_out) rc = 1;
                else {
                    memcpy(*ti_out, w.ti_text.d, w.ti_text.len);
                    *ti_len = w.ti_text.len;
                }
            } else if (w.h1_done) {
                *has_title = 1;
                *ti_out = (char *)malloc(w.h1_text.len + 1);
                if (!*ti_out) rc = 1;
                else {
                    memcpy(*ti_out, w.h1_text.d, w.h1_text.len);
                    *ti_len = w.h1_text.len;
                }
            } else {
                *has_title = 0;
                *ti_len = 0;
            }
        }
    }
    if (rc != 0) {
        /* no partial result survives an error */
        free(*md_out);
        free(*pl_out);
        free(*ti_out);
        *md_out = *pl_out = *ti_out = NULL;
        *has_title = 0;
    }
    free(w.out.d);
    free(w.plain.d);
    free(w.pl_href.d);
    free(w.tbl_cell.d);
    row_free(&w.tbl_headers);
    row_free(&w.tbl_currow);
    for (size_t i = 0; i < w.tbl_nrows; i++) row_free(&w.tbl_rows[i]);
    free(w.tbl_rows);
    free(w.ti_cap.d);
    free(w.h1_cap.d);
    free(w.ti_text.d);
    free(w.h1_text.d);
    free(w.ref.d);
    return rc;
}

void html_free(char *p) { free(p); }
