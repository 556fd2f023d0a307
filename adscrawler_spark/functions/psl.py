"""Embedded subset of the Public Suffix List (publicsuffix.org).

The reference resolves registrable domains with the ``tldextract``
package (e.g. /root/reference/adscrawler/app_stores/utils.py:178-204,
/root/reference/adscrawler/scrape.py:224-228).  That package is not
available in this environment, so we ship a deterministic PSL subset
(ICANN section; the reference's default tldextract config likewise
excludes private suffixes) plus the standard PSL longest-match
algorithm.  The list (780 entries, at most two labels each) is shared by
three independent matchers that are tested against each other: the JVM
SQL expression behind ``canonical_host`` / ``url_canon`` (one ``IN``
literal list, a hash ``InSet`` after optimization), the pandas UDF
helpers in ``functions/urls.py`` and the pure-Python parity oracle.
Only the *data* is shared.
"""

from __future__ import annotations

# Single-label public suffixes (gTLDs + ccTLDs we may encounter).
_SINGLE = """
com org net edu gov mil int info biz name pro aero asia cat coop jobs
mobi museum post tel travel xxx xyz app dev page site online store tech
me tv cc ws io ai co eu us ca mx br ar cl pe ve ec uy py bo
uk de fr jp cn ru in it nl es se no fi dk pl pt gr cz at ch be ie hu ro
sk bg hr si lt lv ee is lu mt cy al ba rs mk md ua by kz ge am az
au nz za kr tw hk sg my th vn ph id tr il sa ae qa kw bh om jo lb eg ma
tn dz ng ke gh tz ug zm zw et sn ci cm pk bd lk np mm kh la mn fm gg je
im ly gl sh ac sc vc ag bz gd lc ms tc vg ky bm aw cw sx fo gi li mc sm
va ad nr nu tk tl to tm cd cg cf td ne ml bf gn gw sl lr tg bj ga gq st
cv km dj so er mw mz ao bw na sz ls mg mu re yt pm wf pf nc vu sb pg fj
ki tv ck ws as gu mp pw mh
""".split()

# Multi-label public suffixes (the common second-level registries).
_MULTI = """
co.uk org.uk me.uk ltd.uk plc.uk net.uk sch.uk ac.uk gov.uk nhs.uk
com.au net.au org.au edu.au gov.au asn.au id.au
co.jp or.jp ne.jp ac.jp ad.jp ed.jp go.jp gr.jp lg.jp
com.cn net.cn org.cn edu.cn gov.cn ac.cn
com.br net.br org.br gov.br edu.br
co.in net.in org.in firm.in gen.in ind.in ac.in edu.in gov.in
com.mx org.mx net.mx edu.mx gob.mx
com.ar net.ar org.ar edu.ar gob.ar
com.tr net.tr org.tr edu.tr gov.tr web.tr
co.kr or.kr ne.kr re.kr pe.kr go.kr ac.kr
com.tw net.tw org.tw edu.tw gov.tw idv.tw
com.hk net.hk org.hk edu.hk gov.hk idv.hk
com.sg net.sg org.sg edu.sg gov.sg per.sg
com.my net.my org.my edu.my gov.my
co.th in.th or.th ac.th go.th net.th
com.vn net.vn org.vn edu.vn gov.vn biz.vn info.vn
co.id or.id web.id ac.id sch.id go.id net.id my.id biz.id
com.ph net.ph org.ph edu.ph gov.ph
co.il org.il net.il ac.il gov.il muni.il
co.za org.za net.za web.za gov.za ac.za
co.nz net.nz org.nz govt.nz ac.nz school.nz geek.nz gen.nz kiwi.nz maori.nz
com.pk net.pk org.pk edu.pk gov.pk
com.bd net.bd org.bd edu.bd gov.bd
com.ng net.ng org.ng edu.ng gov.ng
com.eg net.eg org.eg edu.eg gov.eg
com.sa net.sa org.sa edu.sa gov.sa med.sa pub.sa
com.co net.co org.co edu.co gov.co nom.co
com.pe net.pe org.pe edu.pe gob.pe nom.pe
com.ve net.ve org.ve co.ve e12.ve gob.ve
com.ec net.ec org.ec edu.ec gob.ec fin.ec med.ec pro.ec info.ec
com.uy net.uy org.uy edu.uy gub.uy
com.py net.py org.py edu.py gov.py coop.py
com.bo net.bo org.bo edu.bo gob.bo
com.cl  gob.cl gov.cl
com.gt net.gt org.gt edu.gt gob.gt
com.do net.do org.do edu.do gob.do web.do art.do
com.pa net.pa org.pa edu.pa gob.pa
com.sv edu.sv gob.sv org.sv red.sv
com.ni net.ni org.ni edu.ni gob.ni
com.hn net.hn org.hn edu.hn gob.hn
co.cr ac.cr ed.cr fi.cr go.cr or.cr sa.cr
com.pr net.pr org.pr edu.pr gov.pr isla.pr pro.pr biz.pr info.pr name.pr
com.ua net.ua org.ua edu.ua gov.ua in.ua kiev.ua
com.ru net.ru org.ru msk.ru spb.ru
com.pl net.pl org.pl edu.pl gov.pl waw.pl wroc.pl
co.at or.at ac.at gv.at
co.hu org.hu
com.gr net.gr org.gr edu.gr gov.gr
com.pt net.pt org.pt edu.pt gov.pt publ.pt
com.ro org.ro tm.ro nt.ro store.ro info.ro arts.ro firm.ro www.ro
com.es nom.es org.es gob.es edu.es
co.ke or.ke ne.ke go.ke ac.ke sc.ke me.ke mobi.ke info.ke
co.tz or.tz ne.tz go.tz ac.tz sc.tz hotel.tz info.tz me.tz mil.tz tv.tz
co.ug or.ug ne.ug go.ug ac.ug sc.ug com.ug org.ug
co.zm org.zm com.zm
co.zw org.zw com.zw ac.zw gov.zw mil.zw
com.gh edu.gh gov.gh org.gh mil.gh
co.ma net.ma org.ma ac.ma press.ma gov.ma
com.tn net.tn org.tn ens.tn fin.tn gov.tn ind.tn info.tn intl.tn nat.tn
com.dz org.dz net.dz gov.dz edu.dz asso.dz pol.dz art.dz
com.lb net.lb org.lb edu.lb gov.lb
com.jo net.jo org.jo edu.jo gov.jo mil.jo name.jo sch.jo
com.kw net.kw org.kw edu.kw gov.kw ind.kw emb.kw
com.qa net.qa org.qa edu.qa gov.qa mil.qa name.qa sch.qa
co.ae net.ae org.ae ac.ae gov.ae mil.ae sch.ae
com.om net.om org.om edu.om gov.om med.om museum.om pro.om
com.bh net.bh org.bh edu.bh gov.bh
com.np net.np org.np edu.np gov.np mil.np aero.np asia.np biz.np coop.np info.np mobi.np museum.np name.np pro.np
com.lk net.lk org.lk edu.lk gov.lk int.lk ngo.lk soc.lk web.lk ltd.lk assn.lk grp.lk hotel.lk ac.lk sch.lk
com.mm net.mm org.mm edu.mm gov.mm
com.kh net.kh org.kh edu.kh gov.kh mil.kh per.kh
com.la net.la org.la edu.la gov.la info.la int.la per.la
com.mn edu.mn gov.mn org.mn
com.fj net.fj org.fj ac.fj biz.fj info.fj mil.fj name.fj pro.fj
com.pg net.pg org.pg ac.pg gov.pg mil.pg
com.sb net.sb org.sb edu.sb gov.sb
com.vu net.vu org.vu edu.vu
co.ck org.ck edu.ck gov.ck net.ck gen.ck biz.ck info.ck
com.ws net.ws org.ws edu.ws gov.ws
co.im com.im net.im org.im ac.im gov.im tt.im tv.im
co.gg net.gg org.gg
co.je net.je org.je
com.gi ltd.gi gov.gi mod.gi edu.gi org.gi
com.mt net.mt org.mt edu.mt gov.mt
com.cy net.cy org.cy ac.cy biz.cy ekloges.cy gov.cy ltd.cy mil.cy name.cy parliament.cy press.cy pro.cy tm.cy
""".split()

PUBLIC_SUFFIXES: frozenset[str] = frozenset(_SINGLE) | frozenset(_MULTI)

# Longest rule length in labels (bounds the matcher loop).
MAX_SUFFIX_LABELS = max(s.count(".") + 1 for s in PUBLIC_SUFFIXES)
