"""Interactive dashboard UI served by the API server.

The reference ships a React SPA built with Vite (``ui/src/main.tsx``,
routes in ``ui/src/routes/*.tsx``, widgets in
``ui/src/components/dashboard/*.tsx``) and the Go server serves the
built bundle for every non-``/api`` path (``server/web/routes.go``).
This container has no node toolchain, so the same surface is
re-expressed as ONE self-contained vanilla-JS document — no build step,
no external assets — returned by :func:`shell` for every UI route.
``api.py`` routes every GET of a UI path (``UI_PATH``) here, like the
reference's static-SPA fallback.

Route parity (reference ``ui/src/routes``):

========================  =====================================
``/``                     dashboard + task list, search, folders
``/login``                session login (``login.tsx``)
``/signup``               invite claim (``signup.tsx``)
``/new``                  create dashboard or task (``new.tsx``)
``/dashboards/:id``       live dashboard (``dashboards.$id.tsx``)
``/dashboards/:id/edit``  SQL editor + preview
                          (``dashboards_.$id.edit.tsx``)
``/tasks/:id``            task runs + run-now (``tasks.$id.tsx``)
``/admin/keys``           API keys (``admin.keys.tsx``)
``/admin/security``       users + invites (``admin.security.tsx``)
``/settings``             name/password (``settings.tsx``)
========================  =====================================

Widget semantics mirror the engine contract (engine.py ``_collect_vars``
/ reference ``get_dashboard.go:1511-1791``): a widget's variable name is
its tagged column's NAME, selections ride as URL query params of that
name (repeated for dropdownMulti), and changing a widget refetches
``GET /api/dashboards/:id?<params>``. Every render type emitted by
``render.py`` (see ``_RENDER_TYPES`` below) has a JS renderer; charts
are inline SVG like the reference's echarts/tremor components, scoped
to the same column tags (index/value/category/band_lower/band_upper…).

Auth divergence (documented in MIGRATION.md): the reference stores the
session in a cookie; this UI keeps the bearer token in localStorage and
sends ``Authorization: Bearer`` on every fetch — same token format,
same server-side middleware.
"""

from __future__ import annotations

import re

# Render types the UI must know how to draw. test_ui.py asserts every
# one of these literals appears in the JS so render.py can never grow a
# type the UI silently drops (render.py:278-501 get_render_info).
_RENDER_TYPES = (
    "linechart",
    "scatterplot",
    "barchartHorizontal",
    "barchartHorizontalStacked",
    "barchartVertical",
    "barchartVerticalStacked",
    "piechart",
    "donutchart",
    "gauge",
    "boxplot",
    "value",
    "table",
    "dropdown",
    "dropdownMulti",
    "datepicker",
    "daterangePicker",
    "input",
    "button",
    "placeholder",
)

# Paths the SPA owns. Anything else that isn't /api, /health or a
# websocket upgrade 404s like the reference's router.
_UI_PREFIXES = (
    "/dashboards",
    "/tasks",
    "/admin",
    # standalone share/embed view (reference routes.go:233 serves a
    # dedicated view.html; here the same shell routes it client-side
    # in forced-embed mode — r11)
    "/view",
)
_UI_EXACT = (
    "/",
    "/login",
    "/signup",
    "/new",
    "/settings",
    "/index.html",
)


# the UI paths as one regex (api.py's route table matches it whole)
UI_PATH = "|".join(
    [re.escape(p) for p in _UI_EXACT]
    + [re.escape(pre) + "(?:/.*)?" for pre in _UI_PREFIXES]
)


def is_ui_path(path: str) -> bool:
    p = path.split("?", 1)[0].rstrip("/") or "/"
    return re.fullmatch(UI_PATH, p) is not None


_CSS = """
:root{--bg:#f6f7fb;--card:#fff;--ink:#18182a;--mut:#6b6b7e;--line:#e3e4ee;
--acc:#4464ad;--accink:#fff;--bad:#c0392b;--ok:#1e8e5a}
*{box-sizing:border-box}
body{margin:0;background:var(--bg);color:var(--ink);
font:14px/1.45 system-ui,-apple-system,sans-serif}
a{color:var(--acc);text-decoration:none}
nav{display:flex;align-items:center;gap:14px;background:var(--card);
border-bottom:1px solid var(--line);padding:10px 20px;position:sticky;top:0;z-index:5}
nav .brand{font-weight:700;font-size:16px;color:var(--ink)}
nav .sp{flex:1}
main{max-width:1180px;margin:18px auto;padding:0 20px}
.card{background:var(--card);border:1px solid var(--line);border-radius:8px;
padding:14px 16px;margin-bottom:14px}
button,.btn{background:var(--acc);color:var(--accink);border:0;border-radius:6px;
padding:7px 14px;font:inherit;cursor:pointer}
button.ghost,.btn.ghost{background:transparent;color:var(--acc);
border:1px solid var(--acc)}
button.danger{background:var(--bad)}
input,select,textarea{font:inherit;border:1px solid var(--line);border-radius:6px;
padding:6px 9px;background:#fff;color:var(--ink)}
textarea.sql{width:100%;min-height:420px;font:13px/1.5 ui-monospace,monospace;
white-space:pre;tab-size:2}
table.data{border-collapse:collapse;width:100%;font-size:13px}
table.data th,table.data td{border-bottom:1px solid var(--line);
padding:5px 10px;text-align:left;white-space:nowrap}
table.data th{background:#f0f1f7;position:sticky;top:0}
.tablewrap{max-height:420px;overflow:auto}
.grid{display:grid;gap:14px}
.hdr{display:flex;flex-wrap:wrap;gap:10px;align-items:flex-end}
.hdr label{display:flex;flex-direction:column;gap:3px;font-size:12px;
color:var(--mut)}
.stat{font-size:34px;font-weight:700}
.stat.small{font-size:20px}.stat.big{font-size:48px}
.cmp{font-size:13px;font-weight:600}
.cmp.up{color:var(--ok)}.cmp.down{color:var(--bad)}
.mut{color:var(--mut)}.err{color:var(--bad);white-space:pre-wrap}
h1{font-size:20px;margin:4px 0 14px}
h2.sec{font-size:16px;margin:22px 0 8px}
.qlabel{font-weight:600;margin-bottom:6px}
.row{display:flex;gap:10px;align-items:center;flex-wrap:wrap}
.list a.item{display:flex;justify-content:space-between;padding:9px 12px;
border-bottom:1px solid var(--line);color:var(--ink)}
.list a.item:hover{background:#f0f2fa}
.folder{font-weight:600}
svg.chart{width:100%;height:auto;background:#fcfcfe;border:1px solid var(--line);
border-radius:6px}
.legend{display:flex;flex-wrap:wrap;gap:10px;font-size:12px;margin-top:4px}
.legend span{display:inline-flex;align-items:center;gap:4px}
.legend i{width:10px;height:10px;border-radius:2px;display:inline-block}
.multi{position:relative}
.multi .pop{display:none;position:absolute;z-index:4;background:#fff;
border:1px solid var(--line);border-radius:6px;padding:8px;max-height:240px;
overflow:auto;min-width:180px;box-shadow:0 4px 14px rgba(0,0,0,.12)}
.multi.open .pop{display:block}
.multi .pop label{display:flex;gap:6px;font-size:13px;color:var(--ink);
flex-direction:row;align-items:center}
.login{max-width:360px;margin:70px auto}
.login input{width:100%;margin-bottom:10px}
.kv{font-size:13px}.kv td{padding:3px 10px 3px 0}
iframe.preview{width:100%;height:560px;border:1px solid var(--line);
border-radius:6px;background:#fff}
.editwrap{display:grid;grid-template-columns:1fr 1fr;gap:14px}
@media(max-width:980px){.editwrap{grid-template-columns:1fr}}
.toast{position:fixed;bottom:18px;right:18px;background:var(--ink);color:#fff;
padding:9px 16px;border-radius:6px;opacity:.95}
"""

_JS = r"""
'use strict';
// ---------------------------------------------------------------- helpers
const $=(s,el)=>(el||document).querySelector(s);
const TOKEN_KEY='shaper_token';
const getToken=()=>localStorage.getItem(TOKEN_KEY)||'';
const setToken=t=>t?localStorage.setItem(TOKEN_KEY,t):localStorage.removeItem(TOKEN_KEY);
function h(tag,attrs,...kids){
  const el=document.createElement(tag);
  for(const[k,v]of Object.entries(attrs||{})){
    if(k==='onclick'||k.startsWith('on'))el.addEventListener(k.slice(2),v);
    else if(k==='class')el.className=v;
    else if(k==='html')el.innerHTML=v;
    else if(v!==null&&v!==undefined)el.setAttribute(k,v);
  }
  for(const k of kids.flat()){
    if(k===null||k===undefined)continue;
    el.appendChild(k instanceof Node?k:document.createTextNode(String(k)));
  }
  return el;
}
function svgEl(tag,attrs,...kids){
  const el=document.createElementNS('http://www.w3.org/2000/svg',tag);
  for(const[k,v]of Object.entries(attrs||{}))el.setAttribute(k,v);
  for(const k of kids.flat())if(k!=null)el.appendChild(
    k instanceof Node?k:document.createTextNode(String(k)));
  return el;
}
async function api(path,opts){
  opts=opts||{};
  opts.headers=Object.assign({},opts.headers);
  // a ?jwt= query param (embed/view links minted for third-party
  // pages) outranks the stored session token: scoped render-only
  // tokens must not be clobbered by a stale local login
  const qj=new URLSearchParams(location.search).get('jwt');
  const t=qj||getToken();
  if(t)opts.headers['Authorization']='Bearer '+t;
  if(opts.body&&typeof opts.body!=='string'){
    opts.body=JSON.stringify(opts.body);
    opts.headers['Content-Type']='application/json';
  }
  const res=await fetch(path,opts);
  if(res.status===401){
    const info=await fetch('/api/auth/info').then(r=>r.json()).catch(()=>({}));
    if(info.loginRequired&&location.pathname!=='/login'){
      setToken('');nav('/login?next='+encodeURIComponent(location.pathname+location.search));
      throw new Error('login required');
    }
  }
  const ct=res.headers.get('content-type')||'';
  const body=ct.includes('json')?await res.json():await res.text();
  if(!res.ok)throw new Error((body&&body.error)||('HTTP '+res.status));
  return body;
}
function toast(msg){
  const t=h('div',{class:'toast'},msg);document.body.appendChild(t);
  setTimeout(()=>t.remove(),2600);
}
function nav(path){history.pushState({},'',path);render();}
function fmtNum(v){
  if(typeof v!=='number')return String(v);
  if(Number.isInteger(v)&&Math.abs(v)<1e15)return v.toLocaleString('en-US');
  return v.toLocaleString('en-US',{maximumFractionDigits:4});
}
function parseX(v){
  if(typeof v==='number')return v;
  if(typeof v==='string'){
    const d=Date.parse(v.includes('T')?v:v.replace(' ','T'));
    if(!isNaN(d))return d;
    const n=Number(v);if(!isNaN(n))return n;
  }
  return null;
}
function isTimeStr(v){
  return typeof v==='string'&&/^\d{4}-\d{2}-\d{2}/.test(v);
}
function fmtTick(v,isTime){
  if(isTime){
    const d=new Date(v);
    return d.getHours()||d.getMinutes()
      ?d.toLocaleString('en-US',{month:'short',day:'numeric',hour:'numeric'})
      :d.toLocaleDateString('en-US',{month:'short',day:'numeric'});
  }
  if(Math.abs(v)>=1e6)return (v/1e6).toFixed(1)+'M';
  if(Math.abs(v)>=1e4)return (v/1e3).toFixed(1)+'k';
  return fmtNum(Math.round(v*100)/100);
}
const PALETTE=['#4464ad','#e07b39','#1e8e5a','#b03a8c','#737d8c',
'#c9a227','#5a7d9a','#c0392b','#3aafa9','#8353b5'];
const colIdx=(cols,tag)=>cols.findIndex(c=>c.tag===tag);

// ---------------------------------------------------------------- charts
function chartFrame(w,hh){return svgEl('svg',{class:'chart',viewBox:`0 0 ${w} ${hh}`});}
function niceTicks(lo,hi,n){
  if(!(hi>lo)){hi=lo+1;}
  const span=hi-lo,step0=span/Math.max(1,n),
    mag=Math.pow(10,Math.floor(Math.log10(step0))),
    step=[1,2,5,10].map(m=>m*mag).find(s=>span/s<=n)||mag*10,
    start=Math.ceil(lo/step)*step,out=[];
  for(let v=start;v<=hi+1e-9;v+=step)out.push(v);
  return out;
}
function seriesSplit(cols,rows){
  // index/value/category/band columns per render.py map_tag
  const xi=colIdx(cols,'index'),yi=colIdx(cols,'value'),
    ci=colIdx(cols,'category'),bl=colIdx(cols,'band_lower'),
    bu=colIdx(cols,'band_upper');
  const groups=new Map();
  for(const r of rows){
    const key=ci>=0?String(r[ci]):'';
    if(!groups.has(key))groups.set(key,[]);
    groups.get(key).push(r);
  }
  return {xi,yi,ci,bl,bu,groups};
}
function xyChart(q,kind){
  const {columns:cols,rows}=q,{xi,yi,ci,bl,bu,groups}=seriesSplit(cols,rows);
  if(xi<0||yi<0||!rows.length)return renderTable(q);
  const W=620,H=240,P={l:52,r:10,t:10,b:26};
  const isTime=isTimeStr(rows[0][xi]);
  const xs=rows.map(r=>parseX(r[xi])).filter(v=>v!==null);
  let ys=rows.map(r=>Number(r[yi]));
  if(bl>=0)ys=ys.concat(rows.map(r=>Number(r[bl])));
  if(bu>=0)ys=ys.concat(rows.map(r=>Number(r[bu])));
  const x0=Math.min(...xs),x1=Math.max(...xs);
  let y0=Math.min(0,...ys),y1=Math.max(...ys);
  if(y0===y1)y1=y0+1;
  const sx=v=>P.l+(x1===x0?0.5:(v-x0)/(x1-x0))*(W-P.l-P.r);
  const sy=v=>H-P.b-(v-y0)/(y1-y0)*(H-P.t-P.b);
  const svg=chartFrame(W,H);
  for(const ty of niceTicks(y0,y1,4)){
    svg.appendChild(svgEl('line',{x1:P.l,x2:W-P.r,y1:sy(ty),y2:sy(ty),
      stroke:'#ececf2'}));
    svg.appendChild(svgEl('text',{x:P.l-6,y:sy(ty)+4,'text-anchor':'end',
      'font-size':10,fill:'#6b6b7e'},fmtTick(ty,false)));
  }
  for(const tx of niceTicks(x0,x1,5)){
    svg.appendChild(svgEl('text',{x:sx(tx),y:H-8,'text-anchor':'middle',
      'font-size':10,fill:'#6b6b7e'},fmtTick(tx,isTime)));
  }
  let gi=0;const legend=[];
  for(const[key,grs]of groups){
    const color=PALETTE[gi++%PALETTE.length];
    const pts=grs.map(r=>[parseX(r[xi]),Number(r[yi])])
      .filter(p=>p[0]!==null).sort((a,b)=>a[0]-b[0]);
    if(bl>=0&&bu>=0&&kind==='line'){
      const lo=grs.map(r=>[parseX(r[xi]),Number(r[bl])]).sort((a,b)=>a[0]-b[0]);
      const hi2=grs.map(r=>[parseX(r[xi]),Number(r[bu])]).sort((a,b)=>a[0]-b[0]);
      const d=hi2.map(p=>`${sx(p[0])},${sy(p[1])}`)
        .concat(lo.reverse().map(p=>`${sx(p[0])},${sy(p[1])}`)).join(' ');
      svg.appendChild(svgEl('polygon',{points:d,fill:color,opacity:.14}));
    }
    if(kind==='line'){
      svg.appendChild(svgEl('polyline',{fill:'none',stroke:color,
        'stroke-width':2,points:pts.map(p=>`${sx(p[0])},${sy(p[1])}`).join(' ')}));
    }else{
      for(const p of pts)svg.appendChild(svgEl('circle',
        {cx:sx(p[0]),cy:sy(p[1]),r:3,fill:color,opacity:.85}));
    }
    if(key)legend.push([key,color]);
  }
  return withLegend(svg,legend);
}
function withLegend(svg,legend){
  const box=h('div',{});box.appendChild(svg);
  if(legend.length){
    box.appendChild(h('div',{class:'legend'},legend.map(([k,c])=>
      h('span',{},h('i',{style:'background:'+c}),k))));
  }
  return box;
}
function barChart(q,horizontal,stacked){
  const {columns:cols,rows}=q,{xi,yi,ci,groups}=seriesSplit(cols,rows);
  if(xi<0||yi<0||!rows.length)return renderTable(q);
  const cats=[...new Set(rows.map(r=>String(r[xi])))];
  const series=[...groups.keys()];
  // per-category value per series
  const val=(cat,ser)=>rows.filter(r=>String(r[xi])===cat&&
    (ci<0||String(r[ci])===ser)).reduce((a,r)=>a+Number(r[yi]||0),0);
  const totals=cats.map(c=>stacked
    ?series.reduce((a,s)=>a+Math.max(0,val(c,s)),0)
    :Math.max(...series.map(s=>val(c,s))));
  const maxV=Math.max(1e-9,...totals);
  const W=620,H=Math.max(200,horizontal?cats.length*26+50:240),
    P={l:horizontal?120:52,r:10,t:10,b:horizontal?24:40};
  const svg=chartFrame(W,H);
  const plotW=W-P.l-P.r,plotH=H-P.t-P.b;
  const legend=[];
  series.forEach((s,si)=>{if(s)legend.push([s,PALETTE[si%PALETTE.length]]);});
  cats.forEach((cat,i)=>{
    const bandPos=i/cats.length,band=1/cats.length;
    let acc=0;
    series.forEach((ser,si)=>{
      const v=Math.max(0,val(cat,ser)),frac=v/maxV,
        color=PALETTE[si%PALETTE.length];
      let x,y,w,hh;
      if(stacked){
        if(horizontal){x=P.l+acc/maxV*plotW;w=frac*plotW;
          y=P.t+bandPos*plotH+band*plotH*0.15;hh=band*plotH*0.7;}
        else{hh=frac*plotH;y=H-P.b-acc/maxV*plotH-hh;
          x=P.l+bandPos*plotW+band*plotW*0.15;w=band*plotW*0.7;}
        acc+=v;
      }else{
        const sw=band/Math.max(1,series.length);
        if(horizontal){x=P.l;w=frac*plotW;
          y=P.t+(bandPos+sw*si)*plotH+sw*plotH*0.12;hh=sw*plotH*0.76;}
        else{hh=frac*plotH;y=H-P.b-hh;
          x=P.l+(bandPos+sw*si)*plotW+sw*plotW*0.12;w=sw*plotW*0.76;}
      }
      if(v>0)svg.appendChild(svgEl('rect',{x,y,width:w,height:hh,fill:color,rx:1.5}));
    });
    const lab=cat.length>16?cat.slice(0,15)+'…':cat;
    if(horizontal)svg.appendChild(svgEl('text',{x:P.l-6,
      y:P.t+(bandPos+band/2)*plotH+4,'text-anchor':'end','font-size':10,
      fill:'#6b6b7e'},lab));
    else svg.appendChild(svgEl('text',{x:P.l+(bandPos+band/2)*plotW,y:H-12,
      'text-anchor':'middle','font-size':10,fill:'#6b6b7e'},lab));
  });
  for(const ty of niceTicks(0,maxV,4)){
    if(horizontal)svg.appendChild(svgEl('text',{x:P.l+ty/maxV*plotW,y:H-6,
      'text-anchor':'middle','font-size':10,fill:'#6b6b7e'},fmtTick(ty,false)));
    else svg.appendChild(svgEl('text',{x:P.l-6,y:H-P.b-ty/maxV*plotH+4,
      'text-anchor':'end','font-size':10,fill:'#6b6b7e'},fmtTick(ty,false)));
  }
  return withLegend(svg,legend);
}
function pieChart(q,donut){
  const {columns:cols,rows}=q;
  let li=colIdx(cols,'index'),vi=colIdx(cols,'value');
  if(li<0)li=cols.findIndex((c,i)=>i!==vi&&typeof (rows[0]||[])[i]==='string');
  if(vi<0)vi=cols.findIndex((c,i)=>i!==li&&typeof (rows[0]||[])[i]==='number');
  if(li<0||vi<0||!rows.length)return renderTable(q);
  const total=rows.reduce((a,r)=>a+Math.max(0,Number(r[vi])||0),0)||1;
  const W=320,H=220,cx=110,cy=110,R=88,r0=donut?46:0;
  const svg=chartFrame(W,H);
  let a0=-Math.PI/2;const legend=[];
  rows.forEach((row,i)=>{
    const v=Math.max(0,Number(row[vi])||0),frac=v/total,
      a1=a0+frac*2*Math.PI,color=PALETTE[i%PALETTE.length];
    if(frac>0){
      const large=frac>.5?1:0,
        p=(a,rr)=>`${cx+rr*Math.cos(a)},${cy+rr*Math.sin(a)}`;
      const d=frac>=.99999
        ?`M ${cx-R},${cy} A ${R},${R} 0 1 1 ${cx+R},${cy} A ${R},${R} 0 1 1 ${cx-R},${cy}`
          +(r0?` M ${cx-r0},${cy} A ${r0},${r0} 0 1 0 ${cx+r0},${cy} A ${r0},${r0} 0 1 0 ${cx-r0},${cy}`:'')
        :(r0
          ?`M ${p(a0,r0)} L ${p(a0,R)} A ${R},${R} 0 ${large} 1 ${p(a1,R)} L ${p(a1,r0)} A ${r0},${r0} 0 ${large} 0 ${p(a0,r0)} Z`
          :`M ${cx},${cy} L ${p(a0,R)} A ${R},${R} 0 ${large} 1 ${p(a1,R)} Z`);
      svg.appendChild(svgEl('path',{d,fill:color,'fill-rule':'evenodd'}));
    }
    legend.push([`${row[li]} (${fmtNum(v)})`,color]);
    a0=a1;
  });
  return withLegend(svg,legend);
}
function gaugeChart(q){
  const {columns:cols,rows,render}=q;
  const vi=colIdx(cols,'value');
  const v=Number((rows[0]||[])[vi>=0?vi:0])||0;
  const cats=(render.gaugeCategories||[]);
  const lo=cats.length?Math.min(...cats.map(c=>c.from)):0,
    hi=cats.length?Math.max(...cats.map(c=>c.to)):Math.max(1,v);
  const W=320,H=190,cx=160,cy=160,R=120;
  const ang=f=>Math.PI+(Math.max(lo,Math.min(hi,f))-lo)/(hi-lo||1)*Math.PI;
  const arc=(a0,a1,color)=>{
    const p=a=>`${cx+R*Math.cos(a)},${cy+R*Math.sin(a)}`;
    return svgEl('path',{d:`M ${p(a0)} A ${R},${R} 0 0 1 ${p(a1)}`,
      stroke:color,'stroke-width':22,fill:'none'});
  };
  const svg=chartFrame(W,H);
  if(cats.length)for(const c of cats)
    svg.appendChild(arc(ang(c.from),ang(c.to),c.color||'#c5cbe3'));
  else svg.appendChild(arc(Math.PI,2*Math.PI,'#e3e4ee'));
  const av=ang(v);
  svg.appendChild(svgEl('line',{x1:cx,y1:cy,
    x2:cx+(R-30)*Math.cos(av),y2:cy+(R-30)*Math.sin(av),
    stroke:'#18182a','stroke-width':3}));
  svg.appendChild(svgEl('circle',{cx,cy,r:6,fill:'#18182a'}));
  svg.appendChild(svgEl('text',{x:cx,y:cy-26,'text-anchor':'middle',
    'font-size':22,'font-weight':700},fmtNum(v)));
  const box=h('div',{});box.appendChild(svg);
  if(cats.some(c=>c.label))box.appendChild(h('div',{class:'legend'},
    cats.filter(c=>c.label).map(c=>h('span',{},
      h('i',{style:'background:'+(c.color||'#c5cbe3')}),c.label))));
  return box;
}
function boxplotChart(q){
  const {columns:cols,rows}=q;
  const bi=cols.findIndex((c,i)=>rows[0]&&rows[0][i]&&
    typeof rows[0][i]==='object'&&'q1'in rows[0][i]);
  if(bi<0||!rows.length)return renderTable(q);
  const li=cols.findIndex((c,i)=>i!==bi);
  const all=rows.flatMap(r=>{const b=r[bi]||{};
    return [b.min,b.max,...(b.outliers||[]).map(o=>o.value)];})
    .filter(v=>typeof v==='number');
  const y0=Math.min(...all),y1=Math.max(...all);
  const W=620,H=240,P={l:52,r:10,t:12,b:26};
  const sy=v=>H-P.b-(v-y0)/((y1-y0)||1)*(H-P.t-P.b);
  const svg=chartFrame(W,H);
  for(const ty of niceTicks(y0,y1,4))
    svg.appendChild(svgEl('text',{x:P.l-6,y:sy(ty)+4,'text-anchor':'end',
      'font-size':10,fill:'#6b6b7e'},fmtTick(ty,false)));
  const bw=(W-P.l-P.r)/rows.length;
  rows.forEach((r,i)=>{
    const b=r[bi]||{},x=P.l+bw*(i+0.5),half=Math.min(34,bw*0.3);
    svg.appendChild(svgEl('line',{x1:x,x2:x,y1:sy(b.min),y2:sy(b.max),
      stroke:'#4464ad'}));
    for(const e of[b.min,b.max])svg.appendChild(svgEl('line',
      {x1:x-half*0.6,x2:x+half*0.6,y1:sy(e),y2:sy(e),stroke:'#4464ad'}));
    svg.appendChild(svgEl('rect',{x:x-half,y:sy(b.q3),width:half*2,
      height:Math.max(1,sy(b.q1)-sy(b.q3)),fill:'#4464ad',opacity:.25,
      stroke:'#4464ad'}));
    svg.appendChild(svgEl('line',{x1:x-half,x2:x+half,y1:sy(b.q2),y2:sy(b.q2),
      stroke:'#18182a','stroke-width':2}));
    for(const o of b.outliers||[])svg.appendChild(svgEl('circle',
      {cx:x,cy:sy(o.value),r:2.6,fill:'#c0392b'}));
    if(li>=0)svg.appendChild(svgEl('text',{x,y:H-8,'text-anchor':'middle',
      'font-size':10,fill:'#6b6b7e'},String(r[li])));
  });
  return svg;
}
function renderValue(q){
  const {columns:cols,rows}=q;
  if(!rows.length)return h('div',{class:'mut'},'no data');
  let vi=cols.findIndex(c=>['value','small','big'].includes(c.tag));
  if(vi<0)vi=0;
  const size=cols[vi].tag==='small'?'small':cols[vi].tag==='big'?'big':'';
  const box=h('div',{});
  box.appendChild(h('div',{class:'stat '+size},
    typeof rows[0][vi]==='number'?fmtNum(rows[0][vi]):String(rows[0][vi])));
  const ci=colIdx(cols,'compare');
  if(ci>=0&&typeof rows[0][ci]==='number'&&typeof rows[0][vi]==='number'){
    const prev=rows[0][ci],cur=rows[0][vi],d=prev?((cur-prev)/Math.abs(prev)*100):0;
    box.appendChild(h('div',{class:'cmp '+(d>=0?'up':'down')},
      `${d>=0?'▲':'▼'} ${Math.abs(d).toFixed(1)}% vs ${fmtNum(prev)}`));
  }
  const ti=cols.map((c,i)=>c.tag==='trend'?i:-1).filter(i=>i>=0);
  if(ti.length===1&&rows.length>1){
    const ys=rows.map(r=>Number(r[ti[0]])),mn=Math.min(...ys),mx=Math.max(...ys);
    const pts=ys.map((y,i)=>`${4+i/(ys.length-1)*152},${26-(y-mn)/((mx-mn)||1)*22}`);
    const spark=svgEl('svg',{viewBox:'0 0 160 30',style:'width:160px;height:30px'});
    spark.appendChild(svgEl('polyline',{fill:'none',stroke:'#4464ad',
      'stroke-width':1.5,points:pts.join(' ')}));
    box.appendChild(spark);
  }
  return box;
}
function renderTable(q){
  const {columns:cols,rows}=q;
  const CAP=500;
  const fmtCell=v=>v===null||v===undefined?'':
    (typeof v==='object'?JSON.stringify(v):
     typeof v==='number'?fmtNum(v):String(v));
  const tbl=h('table',{class:'data'},
    h('thead',{},h('tr',{},cols.map(c=>h('th',{},c.name)))),
    h('tbody',{},rows.slice(0,CAP).map(r=>
      h('tr',{},r.map(v=>h('td',{},fmtCell(v)))))));
  const wrap=h('div',{class:'tablewrap'},tbl);
  if(rows.length>CAP)wrap.appendChild(
    h('div',{class:'mut'},`showing ${CAP} of ${rows.length} rows`));
  return wrap;
}
function renderChart(q){
  switch(q.render.type){
    case 'linechart':return xyChart(q,'line');
    case 'scatterplot':return xyChart(q,'scatter');
    case 'barchartVertical':return barChart(q,false,false);
    case 'barchartVerticalStacked':return barChart(q,false,true);
    case 'barchartHorizontal':return barChart(q,true,false);
    case 'barchartHorizontalStacked':return barChart(q,true,true);
    case 'piechart':return pieChart(q,false);
    case 'donutchart':return pieChart(q,true);
    case 'gauge':return gaugeChart(q);
    case 'boxplot':return boxplotChart(q);
    case 'value':return renderValue(q);
    case 'placeholder':return h('div',{});
    default:return renderTable(q);
  }
}

// ------------------------------------------------------------- widgets
function getParams(){return new URLSearchParams(location.search);}
function setParam(name,values){
  const p=getParams();p.delete(name);
  for(const v of [].concat(values))if(v!=='')p.append(name,v);
  history.replaceState({},'',location.pathname+(p.toString()?'?'+p:''));
  render();
}
function widgetEl(q,did){
  const {columns:cols,rows,render:r}=q,p=getParams();
  const label=r.label||'';
  if(r.type==='dropdown'){
    const vi=colIdx(cols,'value'),li=colIdx(cols,'label');
    if(vi<0)return null;
    const name=cols[vi].name,cur=p.get(name)||String((rows[0]||[])[vi]??'');
    const sel=h('select',{onchange:e=>setParam(name,e.target.value)},
      rows.map(row=>h('option',{value:row[vi],
        selected:String(row[vi])===cur?'':null},
        li>=0?row[li]:row[vi])));
    sel.value=cur;
    return h('label',{},label||name,sel);
  }
  if(r.type==='dropdownMulti'){
    const vi=colIdx(cols,'value'),li=colIdx(cols,'label');
    if(vi<0)return null;
    const name=cols[vi].name;
    const chosen=p.has(name)?p.getAll(name):rows.map(row=>String(row[vi]));
    const box=h('div',{class:'multi'});
    const btn=h('button',{class:'ghost',type:'button',
      onclick:()=>box.classList.toggle('open')},
      `${label||name} (${chosen.length}/${rows.length}) ▾`);
    const pop=h('div',{class:'pop'},rows.map(row=>{
      const v=String(row[vi]);
      return h('label',{},h('input',{type:'checkbox',
        checked:chosen.includes(v)?'':null,
        onchange:e=>{
          const next=e.target.checked?chosen.concat(v)
            :chosen.filter(x=>x!==v);
          // always explicit so "none selected" survives (engine keeps
          // provided-but-empty params distinct from absent ones)
          const pp=getParams();pp.delete(name);
          for(const x of next)pp.append(name,x);
          if(!next.length)pp.append(name,'');
          history.replaceState({},'',location.pathname+'?'+pp);
          render();
        }},li>=0?String(row[li]):v));
    }));
    box.appendChild(btn);box.appendChild(pop);
    return h('label',{},' ',box);
  }
  if(r.type==='datepicker'){
    const di=colIdx(cols,'default');
    if(di<0)return null;
    const name=cols[di].name,
      def=String((rows[0]||[])[di]??'').slice(0,10),
      cur=p.get(name)||def;
    return h('label',{},label||name,
      h('input',{type:'date',value:cur,
        onchange:e=>setParam(name,e.target.value)}));
  }
  if(r.type==='daterangePicker'){
    const fi=colIdx(cols,'defaultFrom'),ti=colIdx(cols,'defaultTo');
    if(fi<0||ti<0)return null;
    const fn=cols[fi].name,tn=cols[ti].name,
      fdef=String((rows[0]||[])[fi]??'').slice(0,10),
      tdef=String((rows[0]||[])[ti]??'').slice(0,10);
    return h('label',{},label||`${fn} – ${tn}`,h('div',{class:'row'},
      h('input',{type:'date',value:p.get(fn)||fdef,
        onchange:e=>setParam(fn,e.target.value)}),
      '→',
      h('input',{type:'date',value:p.get(tn)||tdef,
        onchange:e=>setParam(tn,e.target.value)})));
  }
  if(r.type==='input'){
    const hi=colIdx(cols,'hint');
    if(hi<0)return null;
    const name=cols[hi].name,hint=String((rows[0]||[])[hi]??'');
    return h('label',{},label||name,
      h('input',{type:'text',placeholder:hint,value:p.get(name)||'',
        onchange:e=>setParam(name,e.target.value)}));
  }
  if(r.type==='button'){
    const fmt=(r.download||'csv').toLowerCase().replace('download_','');
    return h('label',{},' ',h('button',{type:'button',
      onclick:()=>downloadFile(did,(label||'export')+'.'+fmt)},
      label||('Download '+fmt.toUpperCase())));
  }
  return null;
}
async function downloadFile(did,filename){
  const qs=getParams().toString();
  const res=await fetch(`/api/dashboards/${did}/download/${encodeURIComponent(filename)}`
    +(qs?'?'+qs:''),{headers:getToken()?{Authorization:'Bearer '+getToken()}:{}});
  if(!res.ok){toast('download failed');return;}
  const blob=await res.blob(),a=h('a',{href:URL.createObjectURL(blob),
    download:filename});
  document.body.appendChild(a);a.click();a.remove();
}

// --------------------------------------------------------------- pages
let reloadTimer=null;
function page(...kids){
  const root=$('#app');root.innerHTML='';
  if(reloadTimer){clearTimeout(reloadTimer);reloadTimer=null;}
  for(const k of kids)if(k)root.appendChild(k);
}
function navBar(active){
  const embed=getParams().get('embed');
  if(embed)return null;
  return h('nav',{},
    h('a',{class:'brand',href:'/',onclick:lnk('/')},'shaper-spark'),
    h('a',{href:'/new',onclick:lnk('/new')},'New'),
    h('a',{href:'/admin/keys',onclick:lnk('/admin/keys')},'API keys'),
    h('a',{href:'/admin/security',onclick:lnk('/admin/security')},'Security'),
    h('a',{href:'/settings',onclick:lnk('/settings')},'Settings'),
    h('span',{class:'sp'}),
    h('button',{class:'ghost',onclick:async()=>{
      try{await api('/api/auth/logout',{method:'POST'});}catch(e){}
      setToken('');nav('/login');
    }},'Log out'));
}
const lnk=p=>e=>{e.preventDefault();nav(p);};

async function pageLogin(){
  const next=getParams().get('next')||'/';
  const email=h('input',{type:'email',placeholder:'email',autofocus:''}),
    pw=h('input',{type:'password',placeholder:'password'}),
    err=h('div',{class:'err'});
  const form=h('form',{onsubmit:async e=>{
    e.preventDefault();err.textContent='';
    try{
      const r=await api('/api/auth/login',{method:'POST',
        body:{email:email.value,password:pw.value}});
      setToken(r.token);nav(next);
    }catch(ex){err.textContent=ex.message;}
  }},h('h1',{},'Log in'),email,pw,err,
    h('div',{class:'row'},h('button',{type:'submit'},'Log in'),
      h('a',{href:'/signup',onclick:lnk('/signup')},'have an invite?')));
  page(h('main',{},h('div',{class:'card login'},form)));
}

async function pageSignup(){
  const code=h('input',{placeholder:'invite code',
    value:getParams().get('code')||''}),
    name=h('input',{placeholder:'your name'}),
    pw=h('input',{type:'password',placeholder:'password'}),
    err=h('div',{class:'err'});
  const form=h('form',{onsubmit:async e=>{
    e.preventDefault();err.textContent='';
    try{
      const r=await api('/api/invites/claim',{method:'POST',
        body:{code:code.value,name:name.value,password:pw.value}});
      setToken(r.token);nav('/');
    }catch(ex){err.textContent=ex.message;}
  }},h('h1',{},'Claim invite'),code,name,pw,err,
    h('button',{type:'submit'},'Create account'));
  page(h('main',{},h('div',{class:'card login'},form)));
}

async function pageHome(){
  let dashboards=[],tasks=[],folders=null;
  try{[dashboards,tasks]=await Promise.all([
    api('/api/dashboards'),api('/api/tasks')]);}catch(e){
    page(navBar(),h('main',{},h('div',{class:'err'},e.message)));return;}
  try{folders=await api('/api/folders?path=/');}catch(e){/* api-key session */}
  const q=h('input',{placeholder:'search…',oninput:()=>draw()});
  const list=h('div',{class:'list'});
  function draw(){
    const needle=q.value.toLowerCase();list.innerHTML='';
    if(folders&&folders.folders)for(const f of folders.folders)
      list.appendChild(h('a',{class:'item folder',href:'#'},
        h('span',{},'📁 '+f.name),h('span',{class:'mut'},'folder')));
    for(const d of dashboards.filter(d=>
      (d.name||d.id).toLowerCase().includes(needle)))
      list.appendChild(h('a',{class:'item',href:'/dashboards/'+d.id,
        onclick:lnk('/dashboards/'+d.id)},
        h('span',{},d.name||d.id),h('span',{class:'mut'},'dashboard')));
    for(const t of tasks.filter(t=>
      (t.name||t.id).toLowerCase().includes(needle)))
      list.appendChild(h('a',{class:'item',href:'/tasks/'+t.id,
        onclick:lnk('/tasks/'+t.id)},
        h('span',{},t.name||t.id),h('span',{class:'mut'},'task')));
    if(!list.children.length)
      list.appendChild(h('div',{class:'mut'},'nothing here yet — ',
        h('a',{href:'/new',onclick:lnk('/new')},'create something')));
  }
  draw();
  page(navBar(),h('main',{},h('h1',{},'Apps'),
    h('div',{class:'card'},h('div',{class:'row'},q),list)));
}

async function pageNew(){
  const name=h('input',{placeholder:'name'}),
    kind=h('select',{},h('option',{value:'dashboard'},'dashboard'),
      h('option',{value:'task'},'task')),
    err=h('div',{class:'err'});
  page(navBar(),h('main',{},h('h1',{},'New app'),
    h('div',{class:'card'},h('div',{class:'row'},name,kind,
      h('button',{onclick:async()=>{
        const id=(name.value||'app').toLowerCase()
          .replace(/[^a-z0-9]+/g,'-').replace(/^-|-$/g,'')
          +'-'+Math.random().toString(36).slice(2,8);
        const body={id,name:name.value||id,
          content:kind.value==='task'
            ?"-- SCHEDULE '1d';\nSELECT 1;"
            :"SELECT 'New dashboard' AS \"LABEL\";"};
        try{
          await api('/api/'+kind.value+'s',{method:'POST',body});
          nav(kind.value==='dashboard'
            ?'/dashboards/'+id+'/edit':'/tasks/'+id);
        }catch(ex){err.textContent=ex.message;}
      }},'Create')),err)));
}

async function pageDashboard(id,edit){
  // /view/:id is ALWAYS chrome-less (the standalone share/embed
  // route); elsewhere ?embed=1 opts in
  const embed=getParams().get('embed')
    ||location.pathname.startsWith('/view/');
  const params=getParams();params.delete('embed');params.delete('jwt');
  let data,info=null,error=null;
  try{
    data=await api('/api/dashboards/'+encodeURIComponent(id)
      +(params.toString()?'?'+params:''));
    if(!embed)try{info=await api(
      '/api/dashboards/'+encodeURIComponent(id)+'/info');}catch(e){}
  }catch(ex){error=ex;}
  if(edit)return pageDashboardEdit(id,info,error);
  if(error){page(navBar(),h('main',{},
    h('div',{class:'err'},error.message)));return;}
  const main=h('main',{});
  if(!embed){
    main.appendChild(h('div',{class:'row',style:'justify-content:space-between'},
      h('h1',{},data.name||id),
      h('div',{class:'row'},
        h('a',{class:'btn ghost',href:'/dashboards/'+id+'/edit',
          onclick:lnk('/dashboards/'+id+'/edit')},'Edit'))));
  }
  if(data.unsetVariables&&data.unsetVariables.length)
    main.appendChild(h('div',{class:'card err'},
      'missing variables: '+data.unsetVariables.join(', ')));
  for(const section of data.sections||[]){
    if(section.type==='header'){
      const hdr=h('div',{class:'card hdr'});
      for(const q of section.queries||[]){
        const w=widgetEl(q,id);if(w)hdr.appendChild(w);
      }
      if(hdr.children.length)main.appendChild(hdr);
      continue;
    }
    if(section.title)main.appendChild(h('h2',{class:'sec'},section.title));
    const qs=(section.queries||[]).filter(q=>q.render.type!=='placeholder');
    const allValues=qs.length>1&&qs.every(q=>q.render.type==='value');
    const grid=h('div',{class:'grid',style:allValues
      ?`grid-template-columns:repeat(${Math.min(4,qs.length)},1fr)`
      :qs.length>1&&qs.every(q=>['value','gauge','piechart','donutchart']
        .includes(q.render.type))
      ?'grid-template-columns:repeat(auto-fit,minmax(260px,1fr))':''});
    for(const q of section.queries||[]){
      if(['dropdown','dropdownMulti','datepicker','daterangePicker','input',
        'button'].includes(q.render.type)){
        const hd=h('div',{class:'card hdr'}),w=widgetEl(q,id);
        if(w){hd.appendChild(w);grid.appendChild(hd);}
        continue;
      }
      if(q.render.type==='placeholder'){grid.appendChild(h('div',{}));continue;}
      const card=h('div',{class:'card'});
      if(q.render.label)card.appendChild(
        h('div',{class:'qlabel'},q.render.label));
      card.appendChild(renderChart(q));
      grid.appendChild(card);
    }
    main.appendChild(grid);
  }
  page(embed?null:navBar(),main);
  if(data.reloadAt&&data.reloadAt>0){
    const delay=Math.max(1000,data.reloadAt-Date.now());
    reloadTimer=setTimeout(render,Math.min(delay,3600_000));
  }
}

async function pageDashboardEdit(id,info,error){
  if(!info)try{info=await api('/api/dashboards/'
    +encodeURIComponent(id)+'/info');}catch(e){}
  const content=(info&&info.content)||'';
  const ta=h('textarea',{class:'sql',spellcheck:'false'},content);
  const nameIn=h('input',{value:(info&&info.name)||id});
  const msg=h('div',{class:'mut'});
  const frame=h('iframe',{class:'preview',
    src:'/dashboards/'+encodeURIComponent(id)+'?embed=1'});
  async function save(){
    msg.textContent='';msg.className='mut';
    try{
      const v=await api('/api/validate',{method:'POST',
        body:{sql:ta.value,type:'dashboard'}});
      if(!v.valid){msg.className='err';
        msg.textContent='blocked statements: #'
          +v.invalidStatements.join(', #');return;}
      await api('/api/dashboards/'+encodeURIComponent(id)+'/query',
        {method:'POST',body:{content:ta.value}});
      if(nameIn.value&&nameIn.value!==(info&&info.name))
        await api('/api/dashboards/'+encodeURIComponent(id)+'/name',
          {method:'POST',body:{name:nameIn.value}});
      msg.textContent='saved';
      frame.contentWindow.location.reload();
    }catch(ex){msg.className='err';msg.textContent=ex.message;}
  }
  ta.addEventListener('keydown',e=>{
    if((e.metaKey||e.ctrlKey)&&e.key==='Enter'){e.preventDefault();save();}
  });
  page(navBar(),h('main',{},
    h('div',{class:'row',style:'justify-content:space-between'},
      h('h1',{},'Edit: ',nameIn),
      h('div',{class:'row'},msg,
        h('a',{class:'btn ghost',href:'/dashboards/'+id,
          onclick:lnk('/dashboards/'+id)},'View'),
        h('button',{onclick:save},'Save (⌘↵)'))),
    h('div',{class:'editwrap'},
      h('div',{class:'card'},ta),
      h('div',{},frame))));
}

async function pageTask(id){
  let t;
  try{t=await api('/api/tasks/'+encodeURIComponent(id));}
  catch(ex){page(navBar(),h('main',{},
    h('div',{class:'err'},ex.message)));return;}
  const runsBox=h('div',{});
  function drawRuns(runs){
    runsBox.innerHTML='';
    if(!runs||!runs.length){
      runsBox.appendChild(h('div',{class:'mut'},'no runs yet'));return;}
    for(const r of runs.slice().reverse()){
      runsBox.appendChild(h('div',{class:'card'},
        h('div',{class:'row'},
          h('b',{},r.error?'✗ failed':'✓ ok'),
          h('span',{class:'mut'},String(r.finishedAt||r.startedAt||''))),
        r.error?h('div',{class:'err'},r.error):null,
        (r.results||[]).map(q=>renderTable(q))));
    }
  }
  const msg=h('div',{class:'mut'});
  page(navBar(),h('main',{},
    h('div',{class:'row',style:'justify-content:space-between'},
      h('h1',{},t.name||id),
      h('div',{class:'row'},msg,
        h('button',{onclick:async()=>{
          msg.textContent='running…';
          try{await api('/api/run/task',{method:'POST',body:{id}});
            msg.textContent='done';refresh();}
          catch(ex){msg.className='err';msg.textContent=ex.message;}
        }},'Run now'))),
    h('div',{class:'card'},
      h('div',{class:'kv'},h('table',{},
        h('tr',{},h('td',{},'schedule'),
          h('td',{},t.lastRun&&t.lastRun.scheduleType||'—')),
        h('tr',{},h('td',{},'last run'),
          h('td',{},t.lastRun&&String(t.lastRun.finishedAt||'')||'never')))),
      h('details',{},h('summary',{},'SQL'),
        h('pre',{},t.content||''))),
    h('h2',{class:'sec'},'Runs'),runsBox));
  async function refresh(){
    try{drawRuns(await api('/api/tasks/'+encodeURIComponent(id)+'/runs'));}
    catch(e){}
  }
  refresh();
}

async function pageAdminKeys(){
  let keys;
  try{keys=(await api('/api/keys')).keys;}catch(ex){
    page(navBar(),h('main',{},h('div',{class:'err'},ex.message)));return;}
  const name=h('input',{placeholder:'key name'});
  const perms=['dashboard:read','data:query','data:ingest','deploy',
    'schema:read','jwt'].map(p=>
    h('label',{style:'flex-direction:row;gap:4px'},
      h('input',{type:'checkbox',value:p}),p));
  const out=h('div',{class:'mut',style:'word-break:break-all'});
  page(navBar(),h('main',{},h('h1',{},'API keys'),
    h('div',{class:'card'},h('div',{class:'hdr'},
      h('label',{},'name',name),perms,
      h('button',{onclick:async()=>{
        const pl=perms.map(l=>$('input',l)).filter(c=>c.checked)
          .map(c=>c.value);
        try{
          const r=await api('/api/keys',{method:'POST',
            body:{name:name.value,permissions:pl}});
          out.textContent='key (copy now, shown once): '+r.key;
          render._keepOut=out.textContent;
        }catch(ex){out.textContent=ex.message;}
      }},'Create')),out),
    h('div',{class:'card'},h('table',{class:'data'},
      h('thead',{},h('tr',{},h('th',{},'name'),h('th',{},'permissions'),
        h('th',{},''))),
      h('tbody',{},keys.map(k=>h('tr',{},
        h('td',{},k.name),
        h('td',{},(k.permissions||[]).join(', ')),
        h('td',{},h('button',{class:'danger',onclick:async()=>{
          if(!confirm('delete key '+k.name+'?'))return;
          await api('/api/keys/'+k.id,{method:'DELETE'});render();
        }},'delete')))))))));
  if(render._keepOut)out.textContent=render._keepOut;
}

async function pageAdminSecurity(){
  let users,invites=[];
  try{users=await api('/api/users');}catch(ex){
    page(navBar(),h('main',{},h('div',{class:'err'},ex.message)));return;}
  const email=h('input',{type:'email',placeholder:'invite email'});
  const inviteOut=h('div',{class:'mut',style:'word-break:break-all'});
  page(navBar(),h('main',{},h('h1',{},'Security'),
    h('div',{class:'card'},h('div',{class:'row'},email,
      h('button',{onclick:async()=>{
        try{
          const r=await api('/api/invites',{method:'POST',
            body:{email:email.value}});
          inviteOut.textContent='invite code: '+(r.code||JSON.stringify(r));
        }catch(ex){inviteOut.textContent=ex.message;}
      }},'Invite user')),inviteOut),
    h('div',{class:'card'},h('table',{class:'data'},
      h('thead',{},h('tr',{},h('th',{},'email'),h('th',{},'name'),
        h('th',{},''))),
      h('tbody',{},(users.users||users||[]).map(u=>h('tr',{},
        h('td',{},u.email),h('td',{},u.name||''),
        h('td',{},h('button',{class:'danger',onclick:async()=>{
          if(!confirm('delete user '+u.email+'?'))return;
          await api('/api/users/'+u.id,{method:'DELETE'});render();
        }},'delete')))))))));
}

async function pageSettings(){
  let me;
  try{me=await api('/api/auth/me');}catch(ex){
    page(navBar(),h('main',{},h('div',{class:'err'},ex.message)));return;}
  const name=h('input',{value:me.name||''}),
    cur=h('input',{type:'password',placeholder:'current password'}),
    nw=h('input',{type:'password',placeholder:'new password'}),
    msg=h('div',{class:'mut'});
  page(navBar(),h('main',{},h('h1',{},'Settings'),
    h('div',{class:'card'},
      h('div',{class:'kv'},h('table',{},
        h('tr',{},h('td',{},'email'),h('td',{},me.email||'—')),
        h('tr',{},h('td',{},'user id'),h('td',{},me.userId||'—'))))),
    h('div',{class:'card'},h('div',{class:'hdr'},
      h('label',{},'display name',name),
      h('button',{onclick:async()=>{
        try{await api('/api/users/'+me.userId+'/name',
          {method:'POST',body:{name:name.value}});
          msg.textContent='saved';}
        catch(ex){msg.className='err';msg.textContent=ex.message;}
      }},'Save name'))),
    h('div',{class:'card'},h('div',{class:'hdr'},
      h('label',{},'current',cur),h('label',{},'new',nw),
      h('button',{onclick:async()=>{
        try{await api('/api/users/'+me.userId+'/password',
          {method:'POST',body:{currentPassword:cur.value,
            newPassword:nw.value}});
          msg.textContent='password updated';}
        catch(ex){msg.className='err';msg.textContent=ex.message;}
      }},'Change password')),msg)));
}

// --------------------------------------------------------------- router
async function render(){
  const p=location.pathname.replace(/\/+$/,'')||'/';
  try{
    if(p==='/login')return await pageLogin();
    if(p==='/signup')return await pageSignup();
    const info=await fetch('/api/auth/info').then(r=>r.json())
      .catch(()=>({loginRequired:false}));
    if(info.loginRequired&&!getToken()
      &&!new URLSearchParams(location.search).get('jwt'))
      return nav('/login?next='+encodeURIComponent(p+location.search));
    if(p==='/'||p==='/index.html')return await pageHome();
    if(p==='/new')return await pageNew();
    if(p==='/settings')return await pageSettings();
    if(p==='/admin'||p==='/admin/keys')return await pageAdminKeys();
    if(p==='/admin/security')return await pageAdminSecurity();
    let m=p.match(/^\/view\/([^/]+)$/);
    if(m)return await pageDashboard(decodeURIComponent(m[1]),false);
    m=p.match(/^\/dashboards\/([^/]+)(\/edit)?$/);
    if(m)return await pageDashboard(decodeURIComponent(m[1]),!!m[2]);
    m=p.match(/^\/tasks\/([^/]+)$/);
    if(m)return await pageTask(decodeURIComponent(m[1]));
    page(navBar(),h('main',{},h('h1',{},'Not found'),
      h('a',{href:'/',onclick:lnk('/')},'← home')));
  }catch(ex){
    if(String(ex.message)!=='login required')
      page(navBar(),h('main',{},h('div',{class:'err'},ex.message)));
  }
}
window.addEventListener('popstate',render);
document.addEventListener('DOMContentLoaded',render);
"""


def shell(custom_css: str = "") -> bytes:
    """The single HTML document behind every UI route.

    ``custom_css`` is operator-supplied serve-time CSS, injected after
    the built-in styles exactly like the reference's
    ``indexHTMLWithCache(customCSS)`` replaces its empty ``<style>``
    slot (frontend.go:144; r11)."""
    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        "<meta name='viewport' content='width=device-width,initial-scale=1'>"
        "<title>shaper-spark</title>"
        f"<style>{_CSS}</style><style>{custom_css}</style></head>"
        f"<body><div id='app'></div><script>{_JS}</script></body></html>"
    ).encode()


def default_favicon() -> bytes:
    """A real 16×16 32-bpp ICO (the UI accent color with a lighter
    center square), served at /favicon.ico like the reference's
    bundled icon (routes.go:246) when the operator supplies none.
    Pure stdlib bytes — header + directory entry + BITMAPINFOHEADER +
    BGRA pixel rows (bottom-up) + AND mask."""
    import struct

    accent = (0xAD, 0x64, 0x44, 0xFF)  # BGRA of #4464ad
    center = (0xF1, 0xE7, 0xD9, 0xFF)  # BGRA of a light fill
    rows = []
    for y in range(16):  # bottom-up per BMP convention
        row = bytearray()
        for x in range(16):
            inner = 4 <= x < 12 and 4 <= (15 - y) < 12
            row += bytes(center if inner else accent)
        rows.append(bytes(row))
    xor = b"".join(rows)
    and_mask = b"\x00" * (4 * 16)  # fully opaque
    bmp = struct.pack(
        "<IiiHHIIiiII", 40, 16, 32, 1, 32, 0, len(xor) + len(and_mask),
        0, 0, 0, 0,
    ) + xor + and_mask
    header = struct.pack("<HHH", 0, 1, 1)
    entry = struct.pack(
        "<BBBBHHII", 16, 16, 0, 0, 1, 32, len(bmp), 6 + 16
    )
    return header + entry + bmp


def embed_loader_js(default_base_url: str, custom_css: str = "") -> bytes:
    """The copy-paste ``<script src=".../embed/shaper.js">`` loader
    (reference serveEmbedJS, frontend.go:60-95): exposes
    ``window.shaper`` with ``render({container, dashboardId, jwt,
    params, width, height})`` which injects an iframe onto the
    repo's standalone ``/view/:id`` route (forced-embed mode), and
    auto-renders any ``[data-shaper-dashboard]`` element on load.
    ``defaultBaseUrl`` / ``customCSS`` are appended exactly like the
    reference's injection step (frontend.go:86)."""
    import json as _json

    js = r"""
(function(){
  'use strict';
  var shaper = window.shaper = window.shaper || {};
  shaper.render = function(opts){
    opts = opts || {};
    var el = typeof opts.container === 'string'
      ? document.querySelector(opts.container)
      : (opts.container
         || (document.currentScript && document.currentScript.parentElement)
         || document.body);
    var base = String(opts.baseUrl || shaper.defaultBaseUrl || '')
      .replace(/\/+$/, '');
    var q = new URLSearchParams(opts.params || {});
    if (opts.jwt) q.set('jwt', opts.jwt);
    var qs = q.toString();
    var f = document.createElement('iframe');
    f.src = base + '/view/'
      + encodeURIComponent(opts.dashboardId || opts.id || '')
      + (qs ? '?' + qs : '');
    f.style.width = opts.width || '100%';
    f.style.height = opts.height || '600px';
    f.style.border = '0';
    f.setAttribute('title', 'shaper dashboard');
    el.appendChild(f);
    return f;
  };
  function auto(){
    var nodes = document.querySelectorAll('[data-shaper-dashboard]');
    for (var i = 0; i < nodes.length; i++){
      var n = nodes[i];
      if (n.__shaperRendered) continue;
      n.__shaperRendered = true;
      shaper.render({
        container: n,
        dashboardId: n.getAttribute('data-shaper-dashboard'),
        jwt: n.getAttribute('data-shaper-jwt') || undefined,
        height: n.getAttribute('data-shaper-height') || undefined
      });
    }
  }
  if (document.readyState === 'loading')
    document.addEventListener('DOMContentLoaded', auto);
  else auto();
})();
"""
    # injected BEFORE the loader body: when the script is added to an
    # already-loaded page, auto() runs synchronously and must see the
    # base URL (the reference appends instead — frontend.go:86 — but
    # its auto-render waits for a custom event, so order is moot there)
    prelude = (
        "window.shaper = window.shaper || {};\n"
        f"window.shaper.defaultBaseUrl = {_json.dumps(default_base_url)};\n"
        f"window.shaper.customCSS = {_json.dumps(custom_css)};\n"
    )
    return (prelude + js).encode()
